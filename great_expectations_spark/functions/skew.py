"""Explicit skew handling — salting utilities (north rule: "explicit
repartition/salting for skewed fmt/size buckets").

Counts and other algebraic aggregates don't need salting (map-side partial
aggregation absorbs hot keys); the cases that DO are holistic per-key state:
collect_list/collect_set, exact distinct-per-key, and joins whose build side
has heavy-hitter keys (AQE skew-join covers sort-merge joins at runtime —
`spark.sql.adaptive.skewJoin.enabled` is set in our sessions — but
aggregation-state skew needs the two-phase rewrite below).

MEASURED CAVEAT (BENCH.md §2b, the skew trial at 10M/40M rows with a
20%-of-rows hot key): Spark >=3.5 natively rescues two of the classic
salting targets, and the naive plans beat the salted rewrites there —
rank-limit window tops compile to WindowGroupLimit with a Partial pass
before the shuffle (per-map-task top-k pruning; naive 11.9s vs salted
18.5s at 40M), and count_distinct's multi-phase rewrite dedupes
(key, value) map-side (naive 5.6s vs salted 25.7s). Reach for these
utilities only when the optimizer can't: rank k above
spark.sql.optimizer.windowGroupLimitThreshold (default 1000), non-rank
holistic windows, collect_* state growth, or a single key whose distinct
set exceeds one final-merge task's memory.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def with_salt(df: DataFrame, buckets: int = 16, id_expr: Column | None = None) -> DataFrame:
    """Add a deterministic salt column in [0, buckets): hash-derived from
    ``id_expr`` when given (reproducible), else spark_partition_id-mixed
    monotonically-increasing ids (stable within a run)."""
    if id_expr is not None:
        salt = F.pmod(F.hash(id_expr), F.lit(buckets))
    else:
        salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(buckets))
    return df.withColumn(SALT_COL, salt)


def _combiner_for(df: DataFrame, keys: Sequence[str], expr: Column):
    """Infer the merge combiner for a first-phase aggregate, or None when it
    is not safely mergeable by alias. Inference reads the ANALYZED plan of a
    single-agg groupBy (analysis only — no job): Column.toString() hides the
    DISTINCT flag, so count_distinct prints as count(x) and sum_distinct as
    sum(x) — exactly the silent-wrong-merge hazard (a distinct value can
    land in several salt buckets, so summing per-salt distinct partials
    over-counts). min/max merge regardless of distinct; sum/count merge by
    sum only when non-distinct; everything else refuses."""
    import re

    try:
        plan = (
            df.groupBy(*[F.col(k) for k in keys])
            .agg(expr.alias("__probe"))
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
    except Exception:
        return None  # cannot introspect → refuse rather than guess
    line = next((ln for ln in plan.splitlines() if "Aggregate" in ln), "")
    seg = line.split(" AS __probe#")[0]
    # isolate the probe expression: shortest suffix with balanced parens,
    # starting after a top-level ', ' (list separator) or '[' — then require
    # the aggregate call to BE the expression root. A composite like
    # max(x)-min(x) or sum(x)*2 must refuse: merging a per-salt composite
    # with the inner function's combiner is silently wrong.
    depth = 0
    start = 0
    for i in range(len(seg) - 1, -1, -1):
        ch = seg[i]
        if ch == ")":
            depth += 1
        elif ch == "(":
            depth -= 1
            if depth < 0:
                start = i + 1
                break
        elif ch in (",", "[") and depth == 0:
            start = i + 1
            break
    probe = seg[start:].strip()
    m = re.match(r"^(\w+)\(", probe)
    if not m or not probe.endswith(")"):
        return None  # composite / non-call root -> refuse
    depth = 0
    for i, ch in enumerate(probe):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0 and i != len(probe) - 1:
                return None  # the call closes before the end -> not the root
    fn = m.group(1).lower()
    distinct = probe[len(fn) + 1 :].lstrip().startswith("distinct ")
    if fn in ("min", "max"):
        return F.min if fn == "min" else F.max  # distinct-insensitive
    if fn in ("sum", "count") and not distinct:
        return F.sum
    return None


def salted_group_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column | tuple[Column, Column]],
    buckets: int = 16,
    id_expr: Column | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation for ALGEBRAIC aggregates:
    groupBy(keys + salt) partial → groupBy(keys) merge. A key with 10^9 rows
    becomes `buckets` partial states instead of one reducer's full stream.

    ``aggs``: alias -> first-phase aggregate expression, or alias ->
    (partial_expr, merge_expr) for anything whose combiner can't be inferred.
    Inference covers exactly min/max/sum/count (count merges by sum); any
    other aggregate (avg, count_distinct, collect_*, ...) raises ValueError
    instead of silently summing per-salt partials — e.g. a sum of per-salt
    averages is NOT the average. Non-decomposable aggregates should be
    rewritten (avg = sum/count across two aliases) or use
    ``salted_distinct_count`` for exact distincts.
    """
    first = df if SALT_COL in df.columns else with_salt(df, buckets, id_expr)
    partials: list[Column] = []
    mergers: list[Column] = []
    for a, e in aggs.items():
        if isinstance(e, tuple):
            partial, merge = e
            partials.append(partial.alias(a))
            mergers.append(merge.alias(a))
            continue
        comb = _combiner_for(df, keys, e)
        if comb is None:
            raise ValueError(
                f"salted_group_agg cannot infer a merge combiner for alias "
                f"{a!r}; only min/max/sum/count are inferable — pass an "
                f"explicit (partial, merge) pair for this aggregate"
            )
        partials.append(e.alias(a))
        mergers.append(comb(a).alias(a))
    phase1 = first.groupBy(*keys, SALT_COL).agg(*partials)
    return phase1.groupBy(*keys).agg(*mergers)


def salted_distinct_count(
    df: DataFrame, key: str, value: str, buckets: int = 16
) -> DataFrame:
    """Exact distinct-count-per-key that never funnels one key's values into
    a single task: salt by the VALUE hash → per-(key, salt) distinct partials
    → sum. → (key, distinct_count)."""
    salted = df.withColumn(SALT_COL, F.pmod(F.hash(F.col(value)), F.lit(buckets)))
    partial = (
        salted.groupBy(key, SALT_COL)
        .agg(F.count_distinct(F.col(value)).alias("_dc"))
    )
    # value-hash salting puts each distinct value in exactly one bucket, so
    # bucket partials are disjoint and sum exactly
    return partial.groupBy(key).agg(F.sum("_dc").alias("distinct_count"))


def salted_top_values(
    df: DataFrame, key: str, value: str, k: int = 10, buckets: int = 16
) -> DataFrame:
    """Top-k values per key under skew — two-phase so a hot key with 10^8
    DISTINCT values never funnels through one window task:

    1. counts per (key, value) (groupBy — map-side partials absorb row skew);
    2. local top-k within (key, value-hash salt) — each window partition
       holds ~distinct/buckets rows; value-hash salting keeps every value's
       full count in exactly one salt, so the true global top-k is a subset
       of the salt-local top-k candidates;
    3. global top-k over the ≤ k·buckets candidates per key (bounded window).

    → (key, value, cnt) rows."""
    from pyspark.sql import Window

    counts = df.groupBy(key, value).agg(F.count(F.lit(1)).alias("cnt"))
    salted = counts.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(value)), F.lit(buckets))
    )
    w_local = Window.partitionBy(key, SALT_COL).orderBy(F.desc("cnt"), F.asc(value))
    candidates = (
        salted.withColumn("_rk", F.row_number().over(w_local))
        .filter(F.col("_rk") <= k)
        .drop("_rk", SALT_COL)
    )
    w_global = Window.partitionBy(key).orderBy(F.desc("cnt"), F.asc(value))
    return (
        candidates.withColumn("_rk", F.row_number().over(w_global))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
