"""Distribution-drift expectations (KL / chi-square / KS / PSI).

Scale design (north rule): the cluster computes ONLY histogram bin counts —
registered as ``sum(when(col in bin, 1))`` expressions inside the suite's
single bundled aggregate pass (no Bucketizer, no extra scan; compare the
reference's ML-lib path at column_histogram.py:172-240) — or value counts via
the shared groupBy pass for categorical partitions. All test statistics are
driver-side math in functions/stats.py.

The reference supports KL on Spark
(expect_column_kl_divergence_to_be_less_than.py:209-693) but KS / chi-square /
bootstrapped-KS are pandas-only (self_check/util.py:1903-1906); here they are
first-class at scale via the histogram sketch, and PSI is added (standard
drift practice for production pipelines; not in the reference).
"""

from __future__ import annotations

import math
from typing import Any, Callable, Optional

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.config import ExpectationConfiguration
from great_expectations_spark.functions.stats import (
    chi_square_test,
    crosstab_binner,
    crosstab_phi,
    kl_divergence,
    ks_from_histograms,
    ks_pvalue,
    parameterized_cdf,
    psi,
)


def is_categorical_partition(po: dict) -> bool:
    return "values" in po


def _bin_condition(col: Column, lo: float, hi: float, is_last: bool) -> Column:
    """[lo, hi) — last bin [lo, hi] (the reference's upper-bound-equality fix
    at column_histogram.py:172-240)."""
    cond = col >= F.lit(float(lo))
    cond = cond & ((col <= F.lit(float(hi))) if is_last else (col < F.lit(float(hi))))
    return cond


def register_histogram(
    planner: Any, column: str, bins: list[float], dom: Column, dom_id: str
) -> dict:
    """Register below/bin/above count aliases in the bundled main pass.

    ``dom_id`` must discriminate the row_condition: the expressions fold
    ``dom``, so keys without it would collide across expectations that
    share a column but filter different domains (first registration wins).
    """
    col = F.col(column)
    k = len(bins) - 1
    aliases = {
        "below": planner._reg(
            ("hist.below", dom_id, column, bins[0]),
            F.count(F.when(dom & (col < F.lit(float(bins[0]))), F.lit(1))),
        ),
        "above": planner._reg(
            ("hist.above", dom_id, column, bins[-1]),
            F.count(F.when(dom & (col > F.lit(float(bins[-1]))), F.lit(1))),
        ),
        "nonnull": planner._reg(
            ("nonnull", dom_id, column), F.count(F.when(dom, col))
        ),
        "bins": [
            planner._reg(
                ("hist.bin", dom_id, column, bins[i], bins[i + 1], i == k - 1),
                F.count(
                    F.when(dom & _bin_condition(col, bins[i], bins[i + 1], i == k - 1), F.lit(1))
                ),
            )
            for i in range(k)
        ],
    }
    return aliases


def _observed_histogram(metrics: dict, aliases: dict) -> tuple[list[int], int, int, int]:
    bin_counts = [int(metrics[a] or 0) for a in aliases["bins"]]
    below = int(metrics[aliases["below"]] or 0)
    above = int(metrics[aliases["above"]] or 0)
    nonnull = int(metrics[aliases["nonnull"]] or 0)
    return bin_counts, below, above, nonnull


def _exact_categorical_counts(
    df, column: str, values: list
) -> tuple[dict, int, int, int]:
    """Exact per-expected-value counts for arbitrarily-high-cardinality
    columns — one bounded aggregate (len(values)+3 counters), no driver
    materialization of the observed value set. Fallback for deciders whose
    shared groupBy `top` was truncated at DISTINCT_CAP: the expected
    partition's values stay exact; everything outside it is lumped into
    (extra_rows, extra_distinct_count).

    Returns (aligned_counts, extra_rows, extra_distinct, nonnull)."""
    col = F.col(column)
    nn = col.isNotNull()
    aggs = [
        F.count(F.when(nn & (col == F.lit(v)), F.lit(1))).alias(f"v{i}")
        for i, v in enumerate(values)
    ]
    extra_cond = nn & ~col.isin(list(values))
    aggs.append(F.count(F.when(extra_cond, F.lit(1))).alias("_extra_rows"))
    aggs.append(
        F.count_distinct(F.when(extra_cond, col)).alias("_extra_distinct")
    )
    aggs.append(F.count(F.when(nn, F.lit(1))).alias("_nonnull"))
    row = df.agg(*aggs).collect()[0]
    aligned = {v: int(row[f"v{i}"] or 0) for i, v in enumerate(values)}
    return (
        aligned,
        int(row["_extra_rows"] or 0),
        int(row["_extra_distinct"] or 0),
        int(row["_nonnull"] or 0),
    )


# sentinel label for the lumped not-in-expected-partition mass in truncated
# fallbacks; real column values are never rewritten to it
_LUMPED_TAIL = "__tail_not_in_partition__"


def _partition_filtered(planner, ctx):
    """planner.df restricted to the rows of ctx.partition_key (null-safe)."""
    pdf = planner.df
    for c, v in ctx.partition_key.items():
        pdf = pdf.filter(F.col(c).eqNullSafe(F.lit(v)))
    return pdf


def _observed_counts_or_exact(
    planner, ctx, gb, column: str, values: list, rc_dom=None
) -> tuple[dict, int, Optional[dict]]:
    """(observed_counts, nonnull, truncation_details|None) for categorical
    deciders — global or, when ``ctx.is_partition``, restricted to one
    data partition (north rule: drift tests per partition). Uses the shared
    groupBy top when complete; when truncated (cardinality > DISTINCT_CAP)
    falls back to the exact bounded aggregate, lumping the out-of-partition
    tail under _LUMPED_TAIL and reporting the lump in details instead of
    silently computing on a clipped table."""
    top, truncated = ctx.partition_top(gb)
    if not truncated:
        counts = {vals[0]: cnt for vals, cnt in top}
        return counts, sum(counts.values()), None
    if ctx.is_partition and ctx.partition_key is not None:
        base, trunc_note = _partition_filtered(planner, ctx), {
            "partition": dict(ctx.partition_key)
        }
    else:
        base, trunc_note = planner.df, {}
    if rc_dom is not None:
        # keep the exact fallback on the same row_condition domain the
        # shared groupBy pass was computed over
        base = base.filter(rc_dom)
    aligned, extra_rows, extra_distinct, nonnull = _exact_categorical_counts(
        base, column, values
    )
    counts = dict(aligned)
    if extra_rows:
        counts[_LUMPED_TAIL] = extra_rows
    details = {
        "observed_truncated": True,
        "tail_lumped_rows": extra_rows,
        "tail_lumped_distinct_values": extra_distinct,
        **trunc_note,
    }
    return counts, nonnull, details


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _validate_partition_object(po: dict) -> str:
    """Reference dataset/util.py is_valid_*_partition_object + the KL
    _validate precondition block (expect_column_kl_divergence...py:380-409).
    Returns 'categorical' or 'continuous'; raises ValueError otherwise."""
    if po is None:
        raise ValueError("Invalid partition object.")
    if "weights" in po and "values" in po:
        if len(po["values"]) == len(po["weights"]) and abs(sum(po["weights"]) - 1.0) < 1e-6:
            return "categorical"
        raise ValueError("Invalid partition object.")
    if "weights" in po and "bins" in po:
        comb = list(po.get("tail_weights", [])) + list(po["weights"])
        bins = po["bins"]
        if "tail_weights" in po and len(po["tail_weights"]) != 2:
            raise ValueError("Invalid partition object.")
        ok = (
            len(bins) == len(po["weights"]) + 1
            and all(bins[i] < bins[i + 1] for i in range(len(bins) - 1))
            and abs(sum(comb) - 1.0) < 1e-6
        )
        if ok:
            return "continuous"
    raise ValueError("Invalid partition object.")


def _kl_preconditions(po, threshold, tail_holdout, internal_holdout) -> None:
    if threshold is not None and (not _num(threshold) or threshold < 0):
        raise ValueError("Threshold must be specified, greater than or equal to zero.")
    if not _num(tail_holdout) or tail_holdout < 0 or tail_holdout > 1:
        raise ValueError("tail_weight_holdout must be between zero and one.")
    if not _num(internal_holdout) or internal_holdout < 0 or internal_holdout > 1:
        raise ValueError("internal_weight_holdout must be between zero and one.")
    if tail_holdout != 0 and "tail_weights" in po:
        raise ValueError(
            "tail_weight_holdout must be 0 when using tail_weights in partition object"
        )


def categorical_kl_adjust(
    observed_counts: dict, nonnull: int, values: list, weights: list, tail_holdout: float
) -> tuple[list, list, list]:
    """Reference categorical path (expect_column_kl_divergence...py:416-442):
    union of expected+observed values (sorted); unseen-in-partition values
    get tail_holdout split equally, expected scaled by (1-tail_holdout)."""
    expected = dict(zip(values, weights))
    union = sorted(set(values) | set(observed_counts), key=lambda v: (str(type(v).__name__), str(v)))
    pk = [observed_counts.get(v, 0) / nonnull if nonnull else 0.0 for v in union]
    n_missing = sum(1 for v in union if v not in expected)
    if n_missing > 0 and tail_holdout > 0:
        qk = [
            expected[v] * (1 - tail_holdout) if v in expected else tail_holdout / n_missing
            for v in union
        ]
    else:
        qk = [expected.get(v, 0.0) for v in union]
    return union, pk, qk


def continuous_kl_weights(
    bins: list,
    weights: list,
    tail_weights,
    tail_holdout: float,
    internal_holdout: float,
    bin_counts: list,
    below: int,
    above: int,
    nonnull: int,
) -> tuple[list, list]:
    """Reference continuous path (expect_column_kl_divergence...py:493-655):
    returns (comb_observed_weights, comb_expected_weights)."""
    inf = math.inf
    ew = [w * (1 - tail_holdout - internal_holdout) for w in weights]
    if internal_holdout > 0:
        zeros = [i for i, w in enumerate(ew) if w == 0]
        if zeros:
            for i in zeros:
                ew[i] = internal_holdout / len(zeros)
    ow = [c / nonnull for c in bin_counts]
    both_inf = bins[0] == -inf and bins[-1] == inf
    left_inf = bins[0] == -inf
    right_inf = bins[-1] == inf
    if both_inf:
        if tail_holdout > 0:
            raise ValueError(
                "tail_weight_holdout cannot be used for partitions with infinite endpoints."
            )
        if tail_weights is not None:
            raise ValueError(
                "There can be no tail weights for partitions with one or both endpoints at infinity"
            )
        return ow, ew
    if left_inf:
        if tail_weights is not None:
            raise ValueError(
                "There can be no tail weights for partitions with one or both endpoints at infinity"
            )
        return ow + [above / nonnull], ew + [tail_holdout]
    if right_inf:
        if tail_weights is not None:
            raise ValueError(
                "There can be no tail weights for partitions with one or both endpoints at infinity"
            )
        return [below / nonnull] + ow, [tail_holdout] + ew
    if tail_weights is not None:
        comb_e = [tail_weights[0]] + ew + [tail_weights[1]]
    else:
        comb_e = [tail_holdout / 2] + ew + [tail_holdout / 2]
    comb_o = [below / nonnull] + ow + [above / nonnull]
    return comb_o, comb_e


def _compile_kl(planner: Any, cfg: ExpectationConfiguration) -> None:
    kw = cfg.kwargs
    column = kw["column"]
    po = kw.get("partition_object")
    threshold = kw.get("threshold")
    tail_holdout = kw.get("tail_weight_holdout", 0)
    internal_holdout = kw.get("internal_weight_holdout", 0)
    bucketize = kw.get("bucketize_data", True)
    dom, dom_id = planner._domain(cfg)

    if po is None:
        # profiling mode (reference resolves column.partition eagerly,
        # :236-252): derive the expected partition from this batch — over
        # the SAME row_condition domain the observed side measures (the
        # reference's column.partition metric carries the expectation's
        # domain kwargs), else a conditioned profiling-mode KL scores the
        # domain against the whole table instead of against itself
        from great_expectations_spark.operators.partition import (
            build_categorical_partition_object,
            build_partition_object,
        )

        rc_dom0, _ = planner._rc_domain(cfg)
        prof_df = planner.df if rc_dom0 is None else planner.df.filter(rc_dom0)
        if bucketize:
            po = build_partition_object(prof_df, column, bins="auto")
        else:
            po = build_categorical_partition_object(prof_df, column)
            if po is None:
                raise ValueError("cannot profile a partition for this column")

    kind = _validate_partition_object(po)
    _kl_preconditions(po, threshold, tail_holdout, internal_holdout)
    tail_holdout = float(tail_holdout)
    internal_holdout = float(internal_holdout)

    if kind == "categorical":
        if internal_holdout > 0:
            raise ValueError("Internal weight holdout cannot be used for discrete data.")
        values = list(po["values"])
        weights = list(po["weights"])
        rc_dom, rc_id = planner._rc_domain(cfg)
        key = planner._need_groupby(
            (column,), drop_nulls=True, dom=rc_dom, rc_id=rc_id,
            want_top=True, want_partition_top=True,
        )

        def decide(ctx) -> tuple[bool, dict]:
            gb = ctx.groupby[key]
            observed_counts, nonnull, trunc = _observed_counts_or_exact(
                planner, ctx, gb, column, values, rc_dom=rc_dom
            )
            if ctx.is_partition and not observed_counts and nonnull == 0:
                return True, {"observed_value": None}
            union, pk, qk = categorical_kl_adjust(
                observed_counts, nonnull, values, weights, tail_holdout
            )
            kl = kl_divergence(pk, qk)
            success = True if threshold is None else kl <= threshold
            bad = math.isinf(kl) or math.isnan(kl)
            details = {
                "observed_partition": {"values": union, "weights": pk},
                "expected_partition": {"values": union, "weights": qk},
            }
            if trunc:
                # expected-value weights are exact; the out-of-partition tail
                # is one lumped mass (with tail_holdout > 0 the per-unseen-
                # value KL terms are approximated by the lump)
                details.update(trunc)
            return bool(success if threshold is None else (not bad and success)), {
                "observed_value": None if bad else kl,
                "details": details,
            }

        planner._add_item(cfg, decide, partition_capable=True)
        return

    if bucketize is False:
        raise ValueError(
            "KL Divergence cannot be computed with a continuous partition object and "
            "the bucketize_data parameter set to false."
        )
    bins = [float(b) for b in po["bins"]]
    weights = [float(w) for w in po["weights"]]
    tail_weights = po.get("tail_weights")
    # raise endpoint/tail errors at compile time (reference does this in
    # _validate before any compute)
    continuous_kl_weights(bins, weights, tail_weights, tail_holdout, internal_holdout,
                          [0] * len(weights), 0, 0, 1)
    aliases = register_histogram(planner, column, bins, dom, dom_id)

    def decide(ctx) -> tuple[bool, dict]:
        bin_counts, below, above, nonnull = _observed_histogram(ctx.metrics, aliases)
        if nonnull == 0:
            return True, {"observed_value": None}
        comb_o, comb_e = continuous_kl_weights(
            bins, weights, tail_weights, tail_holdout, internal_holdout,
            bin_counts, below, above, nonnull,
        )
        kl = kl_divergence(comb_o, comb_e)
        bad = math.isinf(kl) or math.isnan(kl)
        success = True if threshold is None else (not bad and kl <= threshold)
        return bool(success), {
            "observed_value": None if bad else kl,
            "details": {
                "observed_partition": {
                    "bins": bins,
                    "weights": [c / nonnull for c in bin_counts],
                    "tail_weights": [below / nonnull, above / nonnull],
                }
            },
        }

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_chi_square(planner: Any, cfg: ExpectationConfiguration) -> None:
    kw = cfg.kwargs
    column = kw["column"]
    po = kw["partition_object"]
    p_threshold = float(kw.get("p", 0.05))
    tail_holdout = float(kw.get("tail_weight_holdout", 0.0))
    values = list(po["values"])
    weights = list(po["weights"])
    rc_dom, rc_id = planner._rc_domain(cfg)
    key = planner._need_groupby(
        (column,), drop_nulls=True, dom=rc_dom, rc_id=rc_id,
        want_top=True, want_partition_top=True,
    )

    def decide(ctx) -> tuple[bool, dict]:
        gb = ctx.groupby[key]
        observed_counts, nonnull, trunc = _observed_counts_or_exact(
            planner, ctx, gb, column, values, rc_dom=rc_dom
        )
        if ctx.is_partition and not observed_counts and nonnull == 0:
            return True, {"observed_value": None}
        union, pk_w, qk = categorical_kl_adjust(
            observed_counts, nonnull, values, weights, tail_holdout
        )
        counts = [observed_counts.get(v, 0) for v in union]
        stat, pval = chi_square_test(counts, qk)
        aligned = [observed_counts.get(v, 0) for v in values]
        details = {"chi_square_statistic": stat, "observed_counts": aligned}
        if trunc:
            details.update(trunc)
        return bool(pval > p_threshold), {
            "observed_value": pval,
            "details": details,
        }

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_ks(planner: Any, cfg: ExpectationConfiguration) -> None:
    kw = cfg.kwargs
    column = kw["column"]
    po = kw["partition_object"]
    p_threshold = float(kw.get("p", 0.05))
    dom, dom_id = planner._domain(cfg)
    bins = [float(b) for b in po["bins"]]
    aliases = register_histogram(planner, column, bins, dom, dom_id)
    weights = list(po["weights"])
    method = "binned_ks"

    def decide(ctx) -> tuple[bool, dict]:
        bin_counts, below, above, nonnull = _observed_histogram(ctx.metrics, aliases)
        if nonnull == 0:
            return True, {"observed_value": None}
        obs = [below] + bin_counts + [above]
        exp = [0.0] + weights + [0.0]
        d = ks_from_histograms(obs, exp)
        pval = ks_pvalue(d, nonnull)
        return bool(pval > p_threshold), {
            "observed_value": pval,
            "details": {"ks_statistic": d, "method": method},
        }

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_bootstrapped_ks(planner: Any, cfg: ExpectationConfiguration) -> None:
    """expect_column_bootstrapped_ks_test_p_value_to_be_greater_than —
    faithful to the reference's pandas implementation
    (pandas_dataset.py:1627-1736): ``bootstrap_samples`` (1000) seeded draws
    of ``bootstrap_sample_size`` (2×n_bins) elements from the column, each
    KS-tested against the interpolated partition CDF;
    observed_value = (1 + #{p_i ≥ p}) / (samples + 1); success ⇔ > p.

    Scale split: the exact observed-partition details ride the bundled
    histogram aggregates; only the bootstrap draws come from a bounded
    seeded sample (``sample_cap``, default 100k — statistically equivalent
    for ~10-element draws at any corpus size, and the whole column on
    test-sized data). Per-draw p-values use the EXACT small-n KS
    distribution (functions/stats.ks_test_sample) — the asymptotic
    approximation is badly biased at n≈10, which is what made the previous
    sketch alias diverge from the reference's golden cases."""
    import numpy as np

    kw = cfg.kwargs
    column = kw["column"]
    po = kw.get("partition_object")
    _validate_partition_object(po)
    if not ("bins" in po and "weights" in po):
        raise ValueError("Invalid continuous partition object.")
    bins = [float(b) for b in po["bins"]]
    if math.isinf(bins[0]) or math.isinf(bins[-1]):
        raise ValueError("Partition endpoints must be finite.")
    if "tail_weights" in po and sum(po["tail_weights"]) > 0:
        raise ValueError(
            "Partition cannot have tail weights -- endpoints must be finite."
        )
    weights = [float(w) for w in po["weights"]]
    p_threshold = float(kw.get("p", 0.05))
    n_boot = int(kw.get("bootstrap_samples") or 1000)
    boot_size = int(kw.get("bootstrap_sample_size") or 2 * len(weights))
    sample_cap = int(kw.get("sample_cap", 100_000))
    seed = int(kw.get("seed", 8675309))
    dom, dom_id = planner._domain(cfg)
    aliases = register_histogram(planner, column, bins, dom, dom_id)
    col = F.col(column)
    a_min = planner._reg(("column.min", dom_id, column), F.min(F.when(dom, col)))
    a_max = planner._reg(("column.max", dom_id, column), F.max(F.when(dom, col)))

    # ONE bounded collect serves the global verdict AND every per-partition
    # verdict: rows carry the partition key and are split driver-side (the
    # histogram / min / max aggregates already ride the rollup pass, so the
    # partition decides reuse ctx.metrics untouched)
    _pop_cache: dict[str, Any] = {}

    def _population(ctx, nonnull: int):
        if "global" not in _pop_cache:
            base = planner.df.filter(dom & col.isNotNull())
            if nonnull > sample_cap:
                frac = min(1.0, 1.2 * sample_cap / nonnull)
                base = base.sample(fraction=frac, seed=seed)
                if not planner.partition_by:
                    # the head-limit is only safe without partitions: under
                    # partition_by it would keep the scan-order head and
                    # starve partitions stored late in the file
                    base = base.limit(sample_cap)
            sel = [F.col(c) for c in planner.partition_by] + [col.alias("_v")]
            rows = base.select(*sel).collect()
            # sorted: rng.choice indexes into the array, so collect ORDER
            # would otherwise leak the physical plan into the p-value —
            # sorting makes draws deterministic across plan shapes
            _pop_cache["global"] = np.sort(
                np.array([r["_v"] for r in rows], dtype=np.float64)
            )
            if planner.partition_by:
                groups: dict[str, list] = {}
                for r in rows:
                    groups.setdefault(planner._row_pk(r), []).append(r["_v"])
                _pop_cache["parts"] = {
                    k: np.sort(np.array(v, dtype=np.float64))
                    for k, v in groups.items()
                }
        if ctx.pk is not None:
            vals = _pop_cache.get("parts", {}).get(ctx.pk)
            if vals is None:
                # a partition small enough to be missed by the uniform
                # sample entirely — fetch its values directly (bounded);
                # cached so repeated decides don't re-scan
                pdf = _partition_filtered(planner, ctx)
                rows = (
                    pdf.filter(dom & col.isNotNull())
                    .select(col.alias("_v"))
                    .limit(sample_cap)
                    .collect()
                )
                vals = np.sort(np.array([r["_v"] for r in rows], dtype=np.float64))
                _pop_cache.setdefault("parts", {})[ctx.pk] = vals
            return vals
        return _pop_cache["global"]

    def decide(ctx) -> tuple[bool, dict]:
        from great_expectations_spark.functions.stats import ks_critical_value

        bin_counts, below, above, nonnull = _observed_histogram(ctx.metrics, aliases)
        if nonnull == 0:
            return True, {"observed_value": None}
        values = _population(ctx, nonnull)
        if values.size == 0:
            return True, {
                "observed_value": None,
                "details": {"note": "no sampled rows for this partition"},
            }
        test_cdf = np.append(np.array([0.0]), np.cumsum(weights))

        # p-value(D) is monotone decreasing, so "p_i >= p" == "D_i <= d_crit"
        # — one exact-distribution solve, then fully vectorized bootstrap
        d_crit = ks_critical_value(boot_size, p_threshold)
        rng = np.random.default_rng(seed)
        draws = rng.choice(values, size=(n_boot, boot_size))
        draws.sort(axis=1)
        Fm = np.interp(draws, bins, test_cdf)
        i = np.arange(1, boot_size + 1, dtype=np.float64)
        d_plus = (i / boot_size - Fm).max(axis=1)
        d_minus = (Fm - (i - 1) / boot_size).max(axis=1)
        D = np.maximum(d_plus, d_minus)
        hits = int((D <= d_crit).sum())
        test_result = (1 + hits) / (n_boot + 1)

        # observed-partition expansion (reference :1689-1706), from the
        # EXACT bundled aggregates, not the sample
        mn, mx = ctx.metrics[a_min], ctx.metrics[a_max]
        hist = list(bin_counts)
        if below > 0 and above > 0:
            obs_bins = [float(mn)] + bins + [float(mx)]
            obs_w = [below] + hist + [above]
        elif below > 0:
            obs_bins = [float(mn)] + bins
            obs_w = [below] + hist
        elif above > 0:
            obs_bins = bins + [float(mx)]
            obs_w = hist + [above]
        else:
            obs_bins = bins
            obs_w = hist
        obs_weights = [c / nonnull for c in obs_w]
        cdf_vals = [0.0]
        for w in obs_weights:
            cdf_vals.append(cdf_vals[-1] + w)
        return bool(test_result > p_threshold), {
            "observed_value": test_result,
            "details": {
                "bootstrap_samples": n_boot,
                "bootstrap_sample_size": boot_size,
                "method": "bootstrap_exact_small_n_ks",
                "bootstrap_population": int(len(values)),
                "observed_partition": {"bins": obs_bins, "weights": obs_weights},
                "expected_partition": {"bins": bins, "weights": weights},
                "observed_cdf": {"x": obs_bins, "cdf_values": cdf_vals},
                "expected_cdf": {"x": bins, "cdf_values": list(test_cdf)},
            },
        }

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_psi(planner: Any, cfg: ExpectationConfiguration) -> None:
    kw = cfg.kwargs
    column = kw["column"]
    po = kw["partition_object"]
    threshold = float(kw.get("threshold", 0.2))
    dom, dom_id = planner._domain(cfg)

    if is_categorical_partition(po):
        values = list(po["values"])
        rc_dom, rc_id = planner._rc_domain(cfg)
        key = planner._need_groupby(
            (column,), drop_nulls=True, dom=rc_dom, rc_id=rc_id,
            want_top=True, want_partition_top=True,
        )

        def decide(ctx) -> tuple[bool, dict]:
            gb = ctx.groupby[key]
            observed_counts, p_nonnull, trunc = _observed_counts_or_exact(
                planner, ctx, gb, column, values, rc_dom=rc_dom
            )
            if ctx.is_partition and not observed_counts and p_nonnull == 0:
                return True, {"observed_value": None}
            aligned = [int(observed_counts.get(v, 0)) for v in values]
            vset = set(values)
            extra = sum(c for v, c in observed_counts.items() if v not in vset)
            pk = aligned + ([extra] if extra else [])
            qk = list(po["weights"]) + ([0.0] if extra else [])
            v = psi(pk, qk)
            result: dict[str, Any] = {"observed_value": v}
            if trunc:
                # PSI already lumps unseen values into one bucket, so the
                # truncated fallback is EXACT — details only record that the
                # exact path ran
                result["details"] = trunc
            return bool(v < threshold), result

        planner._add_item(cfg, decide, partition_capable=True)
        return

    bins = [float(b) for b in po["bins"]]
    aliases = register_histogram(planner, column, bins, dom, dom_id)
    weights = list(po["weights"])

    def decide(ctx) -> tuple[bool, dict]:
        bin_counts, below, above, nonnull = _observed_histogram(ctx.metrics, aliases)
        if nonnull == 0:
            return True, {"observed_value": None}
        obs = [below] + bin_counts + [above]
        exp = [0.0] + weights + [0.0]
        v = psi(obs, exp)
        return bool(v < threshold), {"observed_value": v}

    planner._add_item(cfg, decide, partition_capable=True)


_CT_DROP = "(dropped)"  # below-first-explicit-edge sentinel, excluded from
# the crosstab but still counted in the phi denominator (reference code -1)


def _crosstab_bin_expr(df, name: str, numeric: bool, bins, n_bins) -> Column:
    """Catalyst category expression replicating crosstab_binner at scale —
    the bin spec comes from one bounded driver job (numeric: min/max agg;
    strings: distinct count + top-n_bins TakeOrdered), then every row maps
    through a literal CASE chain so the crosstab groupBy sees at most
    n_bins+2 categories per side. Categories are strings here; phi only
    needs equivalence classes, not the reference's labels."""
    from great_expectations_spark.functions.stats import (
        _CROSSTAB_DEFAULT_BINS,
        CROSSTAB_MISSING,
        CROSSTAB_OTHER,
        crosstab_bin_edges,
    )

    if n_bins is None:
        n_bins = _CROSSTAB_DEFAULT_BINS
    col = F.col(name)
    if numeric:
        nanish = col.isNull()
        if isinstance(df.schema[name].dataType, (T.FloatType, T.DoubleType)):
            nanish = nanish | F.isnan(col)
        row = df.filter(~nanish).agg(
            F.min(col).alias("_mn"), F.max(col).alias("_mx")
        ).collect()[0]
        if row["_mn"] is None:
            return F.lit(CROSSTAB_MISSING)
        edges = crosstab_bin_edges(float(row["_mn"]), float(row["_mx"]), bins, n_bins)
        expr = F.when(nanish, F.lit(CROSSTAB_MISSING)).when(
            col < F.lit(float(edges[0])), F.lit(_CT_DROP)
        )
        for i in range(len(edges) - 1):
            expr = expr.when(col < F.lit(float(edges[i + 1])), F.lit(f"bin{i}"))
        return expr.otherwise(F.lit(CROSSTAB_MISSING))
    as_str = col.cast("string")
    if bins is not None:
        # per-VALUE mapping, not per-group: a value listed in two groups
        # takes the LAST group's label, exactly like the in-bundle
        # crosstab_binner's repl-dict overwrite (and the reference's
        # series.replace with a dict built the same way)
        repl: dict = {}
        for group in bins:
            label = ", ".join(group)
            for v in group:
                repl[v] = label
        expr = F.when(col.isNull(), F.lit(CROSSTAB_MISSING))
        for v, label in repl.items():
            expr = expr.when(col == F.lit(v), F.lit(label))
        return expr.otherwise(as_str)
    n_distinct = df.agg(F.count_distinct(col).alias("_d")).collect()[0]["_d"]
    if n_distinct < n_bins + 1:
        return F.coalesce(as_str, F.lit(CROSSTAB_MISSING))
    top = [
        r[name]
        for r in df.filter(col.isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc(as_str))
        .limit(n_bins)
        .collect()
    ]
    return (
        F.when(col.isNull(), F.lit(CROSSTAB_MISSING))
        .when(col.isin(top), as_str)
        .otherwise(F.lit(CROSSTAB_OTHER))
    )


_CT_CELL_CAP = 100_000  # max contingency cells collected to the driver


def _ct_passthrough(numeric: bool, bins) -> Callable[[Any], Any]:
    """Per-side category passthrough for crosstab_phi over pre-binned cells.
    The "(dropped)" sentinel can ONLY be emitted by the numeric
    explicit-bins CASE chain (values below the first explicit edge); on a
    string side the raw data value "(dropped)" is an ordinary category and
    must NOT be filtered — same collision rule as "(missing)"/"(other)",
    which merge with equal raw values by design (pandas does the same)."""
    if numeric and bins is not None:
        return lambda v: None if v == _CT_DROP else v
    return lambda v: v


def _distributed_cramers_phi(
    df, a: str, b: str, numeric_a: bool, numeric_b: bool, kw: dict
) -> tuple[float, float, int, int]:
    """Reference-binned Cramér's phi at scale — the fallback when the raw
    |A×B| pair top exceeds DISTINCT_CAP. The bin specs are derived from one
    bounded job per side, then a single groupBy over the two CASE-chain
    category columns yields at most (n_bins+2)² cells per side that bins —
    EXCEPT a string side with explicit ``bins`` groups, where the reference
    keeps every uncovered value as its own identity category
    (pandas_dataset.py:604-609), so the crosstab is data-bounded only. The
    binned cells therefore stay a DataFrame: small contingencies (every
    bounded spec; ≤ _CT_CELL_CAP cells otherwise) collect to the driver for
    the same crosstab_phi the in-bundle path uses (incl. the 2×2 Yates
    correction); beyond the cap, χ² = N·(Σ o²/(rₐ·c_b) − 1) via two margin
    joins — exact over all r×c cells including the unobserved ones, and the
    cap guarantees dof > 1 there so Yates never applies — and only four
    scalars reach the driver."""
    from great_expectations_spark.functions.stats import crosstab_phi

    ea = _crosstab_bin_expr(df, a, numeric_a, kw.get("bins_A"), kw.get("n_bins_A"))
    eb = _crosstab_bin_expr(df, b, numeric_b, kw.get("bins_B"), kw.get("n_bins_B"))
    cells_df = (
        df.groupBy(ea.alias("_ca"), eb.alias("_cb"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    pa = _ct_passthrough(numeric_a, kw.get("bins_A"))
    pb = _ct_passthrough(numeric_b, kw.get("bins_B"))
    unbounded = (kw.get("bins_A") is not None and not numeric_a) or (
        kw.get("bins_B") is not None and not numeric_b
    )
    if not unbounded:
        rows = cells_df.collect()
        cells = {(r["_ca"], r["_cb"]): int(r["_o"]) for r in rows}
        return crosstab_phi(cells, sum(cells.values()), pa, pb)
    cells_df = cells_df.persist()
    try:
        if cells_df.count() <= _CT_CELL_CAP:
            rows = cells_df.collect()
            cells = {(r["_ca"], r["_cb"]): int(r["_o"]) for r in rows}
            return crosstab_phi(cells, sum(cells.values()), pa, pb)
        # full-domain rows (dropped sentinel included) — the reference's
        # phi denominator is get_row_count(), not the crosstab total
        row_count = int(
            cells_df.agg(F.sum("_o").alias("_n")).collect()[0]["_n"] or 0
        )
        ct = cells_df
        if numeric_a and kw.get("bins_A") is not None:
            ct = ct.filter(F.col("_ca") != _CT_DROP)
        if numeric_b and kw.get("bins_B") is not None:
            ct = ct.filter(F.col("_cb") != _CT_DROP)
        ra = ct.groupBy("_ca").agg(F.sum("_o").alias("_ra"))
        cb = ct.groupBy("_cb").agg(F.sum("_o").alias("_cm"))
        row = (
            ct.join(ra, "_ca")
            .join(cb, "_cb")
            .agg(
                F.sum("_o").alias("_n"),
                F.sum(
                    F.col("_o").cast("double") * F.col("_o")
                    / (F.col("_ra").cast("double") * F.col("_cm"))
                ).alias("_s"),
                F.count_distinct("_ca").alias("_r"),
                F.count_distinct("_cb").alias("_c"),
            )
            .collect()[0]
        )
    finally:
        cells_df.unpersist()
    n_ct = int(row["_n"] or 0)
    r, c = int(row["_r"] or 0), int(row["_c"] or 0)
    if row_count <= 0 or min(r, c) < 2:
        # degenerate: nan observed + failure, matching crosstab_phi (and
        # the reference's sqrt(0/N/0) propagation)
        return float("nan"), 0.0, r, c
    chi2 = max(n_ct * (float(row["_s"]) - 1.0), 0.0)
    phi = max(min(math.sqrt(chi2 / row_count / (min(r, c) - 1)), 1.0), 0.0)
    return phi, chi2, r, c


def _compile_cramers_phi(planner: Any, cfg: ExpectationConfiguration) -> None:
    """expect_column_pair_cramers_phi_value_to_be_less_than — categorical
    association between two columns, with the reference's full crosstab
    semantics (pandas-only there: dataset.py:4379-4450 + get_binned_values
    at pandas_dataset.py:559-634): numeric columns are equal-width-binned
    (n_bins, default 10, or explicit bins_A/bins_B edges), string columns
    beyond n_bins distinct values collapse to top-n + "(other)", and nulls
    become a "(missing)" category — so the contingency is bounded by
    construction. Here the raw (A,B) pair counts come from the shared
    groupBy pass (one shuffle, nulls kept) and ALL binning + chi-square +
    phi is bounded driver math; the DISTINCT_CAP fallback rebins in-cluster
    through literal CASE chains instead (replays the corpus's 8 golden
    cases exactly, including the three binned/missing ones)."""
    from pyspark.sql.types import NumericType

    kw = cfg.kwargs
    a, b = kw["column_A"], kw["column_B"]
    threshold = float(kw.get("threshold", 0.1))
    # pandas dtype in ["int","float"] <-> Spark numeric (bools/dates take
    # the categorical path, as in the reference)
    numeric_a = isinstance(planner.df.schema[a].dataType, NumericType)
    numeric_b = isinstance(planner.df.schema[b].dataType, NumericType)
    rc_dom, rc_id = planner._rc_domain(cfg)
    key = planner._need_groupby(
        (a, b), drop_nulls=False, dom=rc_dom, rc_id=rc_id,
        want_top=True, want_partition_top=True,
    )

    def decide(ctx) -> tuple[bool, dict]:
        gb = ctx.groupby[key]
        top, truncated = ctx.partition_top(gb)
        if truncated:
            base = (
                _partition_filtered(planner, ctx)
                if ctx.is_partition and ctx.partition_key is not None
                else planner.df
            )
            if rc_dom is not None:
                # exact fallback must stay on the row_condition domain the
                # shared groupBy pass was computed over
                base = base.filter(rc_dom)
            phi, chi2, rows, cols = _distributed_cramers_phi(
                base, a, b, numeric_a, numeric_b, kw
            )
            return bool(phi <= threshold), {
                "observed_value": phi,
                "details": {
                    "chi_squared": chi2,
                    "n_rows": rows,
                    "n_cols": cols,
                    "observed_truncated": True,
                    "method": "distributed_exact",
                },
            }
        if ctx.is_partition and not top:
            return True, {"observed_value": None}
        cells = {values: cnt for values, cnt in top}
        # marginal value counts (the reference's series.value_counts input)
        counts_a: dict = {}
        counts_b: dict = {}
        for (va, vb), cnt in cells.items():
            if va is not None:
                counts_a[va] = counts_a.get(va, 0) + cnt
            if vb is not None:
                counts_b[vb] = counts_b.get(vb, 0) + cnt
        row_count = sum(cells.values())  # full domain rows, nulls included
        phi, chi2, rows, cols = crosstab_phi(
            cells,
            row_count,
            crosstab_binner(counts_a, numeric_a, kw.get("bins_A"), kw.get("n_bins_A")),
            crosstab_binner(counts_b, numeric_b, kw.get("bins_B"), kw.get("n_bins_B")),
        )
        return bool(phi <= threshold), {
            "observed_value": phi,
            "details": {"chi_squared": chi2, "n_rows": rows, "n_cols": cols},
        }

    planner._add_item(cfg, decide, partition_capable=True)


def _compile_parameterized_ks(planner: Any, cfg: ExpectationConfiguration) -> None:
    """expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than
    — one-sample KS against a named distribution (norm/uniform/expon).

    Pandas-only in the reference (sample-based scipy.stats.kstest); the scale
    path here evaluates |F_dist(x_p) − p| at K approximate sample quantiles
    from the bundled agg pass (GK sketch — single pass, mergeable)."""
    kw = cfg.kwargs
    column = kw["column"]
    p_threshold = float(kw.get("p_value", kw.get("p", 0.05)))
    cdf = parameterized_cdf(kw["distribution"], kw.get("params"))
    n_probe = int(kw.get("n_quantiles", 100))
    dom, dom_id = planner._domain(cfg)
    col = F.col(column)
    probes = [i / n_probe for i in range(1, n_probe)]
    a_q = planner._reg(
        ("param_ks_quantiles", column, dom_id, n_probe),
        F.percentile_approx(
            F.when(dom, col), F.array(*[F.lit(p) for p in probes]), F.lit(10000)
        ),
    )
    a_n = planner._reg(("nonnull", dom_id, column), F.count(F.when(dom, col)))

    def decide(ctx) -> tuple[bool, dict]:
        xs = ctx.metrics[a_q]
        nonnull = ctx.metrics[a_n] or 0
        if xs is None or nonnull == 0:
            return True, {"observed_value": None}
        d = max(abs(cdf(float(x)) - p) for x, p in zip(xs, probes))
        pval = ks_pvalue(d, nonnull)
        return bool(pval > p_threshold), {
            "observed_value": pval,
            "details": {"ks_statistic": d, "n_quantile_probes": n_probe},
        }

    planner._add_item(cfg, decide, partition_capable=True)


DRIFT_COMPILERS: dict[str, Callable[[Any, ExpectationConfiguration], None]] = {
    "expect_column_kl_divergence_to_be_less_than": _compile_kl,
    "expect_column_chi_square_test_p_value_to_be_greater_than": _compile_chi_square,
    # reference spelling (expect_column_chisquare_test_p_value_to_be_greater_than.py)
    "expect_column_chisquare_test_p_value_to_be_greater_than": _compile_chi_square,
    "expect_column_kstest_p_value_to_be_greater_than": _compile_ks,
    # faithful seeded bootstrap + exact small-n KS (pandas-only in the
    # reference — pandas_dataset.py:1627-1736)
    "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than": _compile_bootstrapped_ks,
    "expect_column_psi_to_be_less_than": _compile_psi,
    "expect_column_pair_cramers_phi_value_to_be_less_than": _compile_cramers_phi,
    "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than": _compile_parameterized_ks,
}
