"""The benchmark's workloads: inputs, the timed call, its output check, and the
per-layer probes of the traced run.

Suites are pinned here (copied from the headline bench's definitions) so the
workloads stay fixed while the rest of the repository changes.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench import inputs

SUITE_WIDE_ROWS = 600_000
IMAGES_ROWS = 60_000
CORPUS_DOCS = 2_000
CORPUS_MAX_DUP_FRACTION = 0.5
# below clean_corpus's default 0.9: a planted near-duplicate of a 30-word
# document has Jaccard about 0.96, and at 0.9 the MinHash estimate misses
# some; the span filter then drops the original as well
CORPUS_DEDUP_THRESHOLD = 0.8
CHECKPOINT_PARTITION_COL = "l_linenumber"


def lineitem_suite(name: str = "perfbench_lineitem"):
    """The headline bench's 18-expectation lineitem suite, plus a uniqueness
    check (groupBy pass) and an approximate quantile (percentile_approx)."""
    from great_expectations_spark.core.config import ExpectationSuite

    s = ExpectationSuite(name=name)
    s.add("expect_column_values_to_not_be_null", column="l_orderkey")
    s.add("expect_column_values_to_be_between", column="l_quantity", min_value=1, max_value=50)
    s.add("expect_column_values_to_be_between", column="l_discount", min_value=0, max_value=0.2)
    s.add("expect_column_values_to_be_in_set", column="l_returnflag", value_set=["A", "N", "R"])
    s.add("expect_column_values_to_be_in_set", column="l_linestatus", value_set=["O", "F"])
    s.add("expect_column_values_to_match_regex", column="l_returnflag", regex="^[ANR]$")
    s.add("expect_column_pair_values_a_to_be_greater_than_b", column_A="l_extendedprice", column_B="l_discount")
    s.add("expect_multicolumn_sum_to_equal", column_list=["l_quantity", "l_linenumber"], sum_total=30, mostly=0.001)
    s.add("expect_column_min_to_be_between", column="l_quantity", min_value=0, max_value=5)
    s.add("expect_column_max_to_be_between", column="l_quantity", min_value=45, max_value=55)
    s.add("expect_column_mean_to_be_between", column="l_extendedprice", min_value=0, max_value=1e9)
    s.add("expect_column_stdev_to_be_between", column="l_extendedprice", min_value=0, max_value=1e9)
    s.add("expect_column_sum_to_be_between", column="l_quantity", min_value=0, max_value=1e15)
    s.add("expect_column_unique_value_count_to_be_between", column="l_partkey", min_value=1, max_value=10**9)
    s.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="l_quantity",
        partition_object={"bins": [1.0, 11.0, 21.0, 31.0, 41.0, 51.0], "weights": [0.2] * 5},
        threshold=0.1,
    )
    s.add(
        "expect_column_psi_to_be_less_than",
        column="l_extendedprice",
        partition_object={"bins": [0.0, 2e4, 4e4, 6e4, 1e7], "weights": [0.25] * 4},
        threshold=1.0,
    )
    s.add("expect_column_value_z_scores_to_be_less_than", column="l_extendedprice", threshold=4.0, mostly=0.99)
    s.add("expect_table_row_count_to_be_between", min_value=1, max_value=10**12)
    s.add("expect_column_values_to_be_unique", column="l_orderkey")
    s.add(
        "expect_column_quantile_values_to_be_between",
        column="l_extendedprice",
        quantile_ranges={"quantiles": [0.25, 0.5, 0.75], "value_ranges": [[0, 1e9]] * 3},
        allow_relative_error=0.01,
    )
    return s


def checkpoint_suite():
    """Six map expectations: the expectation count of the reference's
    published many-batch checkpoint figure."""
    from great_expectations_spark.core.config import ExpectationSuite

    s = ExpectationSuite(name="perfbench_checkpoint")
    for cfg in lineitem_suite().expectations[:6]:
        s.add(cfg.expectation_type, **cfg.kwargs)
    return s


def image_suite():
    """The headline bench's 7-expectation image suite."""
    from great_expectations_spark.core.config import ExpectationSuite

    s = ExpectationSuite(name="perfbench_images")
    s.add("expect_image_bytes_to_be_decodable", column="bytes", mostly=0.98)
    s.add("expect_image_dims_to_match_metadata", mostly=0.95)
    s.add("expect_image_fmt_to_match_metadata", mostly=0.95)
    s.add("expect_image_phash_to_match", max_hamming_distance=0, mostly=0.9)
    s.add("expect_column_values_to_not_be_null", column="caption", mostly=0.95)
    s.add("expect_column_values_to_be_in_set", column="fmt", value_set=["png", "jpeg", "webp"])
    s.add("expect_table_row_count_to_be_between", min_value=1, max_value=10**12)
    return s


# ---- result comparison ------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return v if not math.isfinite(v) else float(f"{v:.9g}")
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _evr_key(evr) -> str:
    return json.dumps(
        [evr.expectation_config, evr.partition], sort_keys=True, default=str
    )


def canonical(result) -> dict[str, str]:
    """EVR identity -> its outcome, with floats cut to 9 significant digits
    (aggregation order may move the last bits)."""
    out = {}
    for evr in list(result.results) + list(result.partition_results):
        out[_evr_key(evr)] = json.dumps(
            _norm([evr.success, evr.result, evr.exception_info]), sort_keys=True, default=str
        )
    return out


def diff_results(result, reference: dict[str, str]) -> list[str]:
    got = canonical(result)
    if got.keys() != reference.keys():
        return [f"EVR set differs ({len(got)} vs {len(reference)})"]
    bad = [k for k in got if got[k] != reference[k]]
    return [f"EVR differs from warm-up: {k[:160]}" for k in bad[:3]]


# ---- workloads --------------------------------------------------------------


class SuiteWide:
    """One SUMMARY validate of the wide lineitem suite, per l_returnflag."""

    name = "suite_wide"
    rows_per_call = SUITE_WIDE_ROWS

    def __init__(self, spark, seed: int) -> None:
        from great_expectations_spark.engine import SparkValidationEngine

        self.spark, self.seed = spark, seed
        self.engine = SparkValidationEngine(spark)
        self.suite = lineitem_suite()

    def generate(self, work: str) -> None:
        self.path = inputs.write_lineitem(
            os.path.join(work, "lineitem"), SUITE_WIDE_ROWS, self.seed
        )

    def load(self) -> None:
        inputs.warm_page_cache(self.path)
        self.df = self.spark.read.parquet(self.path)

    def call(self):
        return self.engine.validate(
            self.df, self.suite, result_format="SUMMARY", partition_by=["l_returnflag"]
        )

    def span_targets(self):
        from great_expectations_spark.engine import SparkValidationEngine
        from great_expectations_spark.plans.planner import SuitePlanner

        return [
            (SparkValidationEngine, "validate", "engine.validate"),
            (SuitePlanner, "compile", "planner.compile"),
            (SuitePlanner, "run", "planner.run"),
        ]

    def build_oracle(self) -> None:
        """Element and unexpected counts of the not-null, between and in-set
        expectations, globally and per l_returnflag, from DuckDB over the
        same parquet files."""
        import duckdb

        checks = {
            ("expect_column_values_to_not_be_null", "l_orderkey"): "l_orderkey IS NULL",
            ("expect_column_values_to_be_between", "l_quantity"):
                "l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50)",
            ("expect_column_values_to_be_between", "l_discount"):
                "l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.2)",
            ("expect_column_values_to_be_in_set", "l_returnflag"):
                "l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')",
            ("expect_column_values_to_be_in_set", "l_linestatus"):
                "l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O', 'F')",
        }
        cols = ", ".join(
            f"count(*) FILTER (WHERE {cond}) AS u{i}" for i, cond in enumerate(checks.values())
        )
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT l_returnflag, count(*) AS n, {cols} "
                f"FROM read_parquet('{self.path}/*.parquet') GROUP BY GROUPING SETS ((l_returnflag), ())"
            ).fetchall()
            grouping = con.execute(
                f"SELECT count(*) FROM read_parquet('{self.path}/*.parquet') WHERE l_returnflag IS NULL"
            ).fetchone()[0]
        finally:
            con.close()
        if grouping:
            raise ValueError("the generator never writes a NULL l_returnflag")
        self.oracle = {}
        for flag, n, *unexpected in rows:
            part = None if flag is None else json.dumps({"l_returnflag": flag})
            for key, u in zip(checks, unexpected):
                self.oracle[(key, part)] = (n, u)

    def check(self, result) -> list[str]:
        problems = []
        seen = set()
        for evr in list(result.results) + list(result.partition_results):
            cfg = evr.expectation_config
            key = (cfg["expectation_type"], cfg["kwargs"].get("column"))
            part = json.dumps(evr.partition) if evr.partition else None
            want = self.oracle.get((key, part))
            if want is None:
                continue
            seen.add((key, part))
            got = (evr.result.get("element_count"), evr.result.get("unexpected_count"))
            if got != want:
                problems.append(f"{key} {part}: engine {got} != DuckDB {want}")
        missing = set(self.oracle) - seen
        if missing:
            problems.append(f"{len(missing)} oracle-checked EVRs missing")
        return problems


class ImagesArrow:
    """One validate_images over the image+caption table, per fmt."""

    name = "images_arrow"
    rows_per_call = IMAGES_ROWS

    def __init__(self, spark, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.suite = image_suite()

    def generate(self, work: str) -> None:
        from great_expectations_spark.testing.images import distributed_images_df

        self.path = inputs.write_parquet(
            distributed_images_df(self.spark, IMAGES_ROWS, partitions=8, seed=self.seed),
            os.path.join(work, "images"),
        )

    def load(self) -> None:
        inputs.warm_page_cache(self.path)
        self.df = self.spark.read.parquet(self.path)

    def call(self):
        from great_expectations_spark.operators.images import validate_images

        return validate_images(
            self.df, self.suite, result_format="SUMMARY", partition_by=["fmt"]
        )

    def span_targets(self):
        from great_expectations_spark import engine
        from great_expectations_spark.operators import images
        from great_expectations_spark.plans.planner import SuitePlanner

        return [
            (images, "validate_images", "images.validate_images"),
            (images, "enrich_images", "images.enrich_images"),
            (engine, "validate", "engine.validate"),
            (SuitePlanner, "compile", "planner.compile"),
            (SuitePlanner, "run", "planner.run"),
        ]

    def build_oracle(self) -> None:
        self.oracle = inputs.planted_image_violations(IMAGES_ROWS)

    def check(self, result) -> list[str]:
        problems = []
        for evr in result.results:
            etype = evr.expectation_config["expectation_type"]
            if etype == "expect_table_row_count_to_be_between":
                if evr.result.get("observed_value") != IMAGES_ROWS:
                    problems.append(f"row count {evr.result.get('observed_value')} != {IMAGES_ROWS}")
                continue
            got = evr.result.get("unexpected_count")
            if got != self.oracle[etype]:
                problems.append(f"{etype}: unexpected {got} != planted {self.oracle[etype]}")
            parts = [
                p.result.get("unexpected_count") or 0
                for p in result.partition_results
                if p.expectation_config == evr.expectation_config
            ]
            if sum(parts) != got:
                problems.append(f"{etype}: per-fmt unexpected counts sum to {sum(parts)}, not {got}")
        if len(result.results) != len(self.suite.expectations):
            problems.append(f"{len(result.results)} EVRs for {len(self.suite.expectations)} expectations")
        return problems


WORKLOADS = {w.name: w for w in (SuiteWide, ImagesArrow)}


# ---- per-layer probes (traced run only) -------------------------------------

# every probe metric, reported as 0 on a workload whose traced run does not
# run that probe
PROBE_METRICS = {
    "images.decode_s": "s",
    "images.decode_rows_per_s": "rows/s",
    "checkpoint.run_s": "s",
    "checkpoint.validate_calls": "count",
    "checkpoint.validate_s": "s",
    "stores.write_calls": "count",
    "stores.write_s": "s",
    "stores.files_written": "count",
    "stores.bytes_written": "B",
    "stores.bytes_per_evr": "B",
    "stores.resume_s": "s",
    "corpus.clean_s": "s",
    "text.analyze_s": "s",
    "dedup.signatures_s": "s",
    "dedup.spans_s": "s",
    "dedup.clusters_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_pairs_kept": "count",
    "dedup.lsh_precision": "ratio",
}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def probe_compile(workload, repeats: int = 3) -> dict[str, float]:
    """``planner.compile_s``: a separate SuitePlanner(...).compile() call."""
    from great_expectations_spark.plans.planner import SuitePlanner

    df = workload.df
    if isinstance(workload, ImagesArrow):
        from great_expectations_spark.operators.images import enrich_images

        df = enrich_images(df)
    times = [
        _timed(lambda: SuitePlanner(df, workload.suite, result_format="SUMMARY").compile())[0]
        for _ in range(repeats)
    ]
    return {"planner.compile_s": statistics.median(times)}


def probe_decode(workload, repeats: int = 3) -> dict[str, float]:
    """``images.*``: enrich_images(df) materialised on its own."""
    from great_expectations_spark.operators.images import DECODED_COL, enrich_images

    def run():
        return enrich_images(workload.df).agg(F.bit_xor(F.xxhash64(F.col(DECODED_COL)))).collect()

    times = [_timed(run)[0] for _ in range(repeats)]
    decode_s = statistics.median(times)
    return {"images.decode_s": decode_s, "images.decode_rows_per_s": IMAGES_ROWS / decode_s}


def probe_checkpoint(spark, workload, spans, work: str) -> tuple[dict[str, float], list[str]]:
    """``stores.*`` and ``checkpoint.*``: CheckpointRunner.run over the
    lineitem input partitioned by l_linenumber, into a fresh ResultsStore
    with the conjunction rollup, then a resumed run on the same store.
    Checks the stored rows against validate(partition_by=...)."""
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.sources.stores import CheckpointRunner, ResultsStore

    problems: list[str] = []
    path = inputs.write_parquet(
        spark.read.parquet(workload.path),
        os.path.join(work, "lineitem_by_linenumber"),
        partition_by=[CHECKPOINT_PARTITION_COL],
    )
    inputs.warm_page_cache(path)
    df = spark.read.parquet(path)
    suite = checkpoint_suite()
    for owner, attr in (
        (ResultsStore, "write_results"),
        (ResultsStore, "write_metrics"),
        (ResultsStore, "write_lineage"),
        (CheckpointRunner, "run"),
        (SparkValidationEngine, "validate"),
    ):
        spans.wrap(owner, attr, f"{owner.__name__}.{attr}")
    fingerprint = f"perfbench-seed-{workload.seed}"

    def run_into(root: str, call_id: str):
        spans.call_id = call_id
        return _timed(
            lambda: CheckpointRunner(spark, ResultsStore(spark, root)).run(
                df, suite, [CHECKPOINT_PARTITION_COL], fingerprint, global_rollup="conjunction"
            )
        )

    try:
        spans.active = True
        first_root = os.path.join(work, "store_a")
        run_s, out = run_into(first_root, "checkpoint")
        files, size = _dir_files(first_root)
        resume_s, resumed = run_into(first_root, "checkpoint_resume")
    finally:
        spans.active = False
        spans.call_id = None
    n_parts = len(out["partitions_run"])
    if n_parts != 7 or resumed["partitions_run"] or len(resumed["partitions_skipped"]) != 7:
        problems.append(
            f"checkpoint ran {n_parts} partitions, resume ran "
            f"{len(resumed['partitions_run'])} and skipped {len(resumed['partitions_skipped'])}"
        )
    store = ResultsStore(spark, first_root)
    stored = [
        r for r in store.read_results().filter(F.col("run_id") == out["run_id"]).collect()
    ]
    part_rows = [r for r in stored if r["partition_key"] is not None]
    if len(part_rows) != 7 * len(suite.expectations):
        problems.append(f"{len(part_rows)} stored partition rows, want {7 * len(suite.expectations)}")
    lineage = (
        spark.read.parquet(os.path.join(first_root, "lineage"))
        .filter((F.col("run_id") == out["run_id"]) & (F.col("status") == "completed"))
        .select("partition_key")
        .distinct()
        .count()
    )
    if lineage != 7:
        problems.append(f"{lineage} completed lineage rows, want 7")
    # per-partition verdicts must equal one validate(partition_by=...) pass
    direct = SparkValidationEngine(spark).validate(
        df, suite, result_format="BASIC", partition_by=[CHECKPOINT_PARTITION_COL]
    )
    want = {
        (
            e.expectation_config["expectation_type"],
            json.dumps(e.expectation_config.get("kwargs", {}), default=str),
            json.dumps(e.partition, default=str),
        ): (bool(e.success), e.result.get("unexpected_count"))
        for e in direct.partition_results
    }
    got = {
        (r["expectation_type"], r["expectation_kwargs"], r["partition_key"]): (
            bool(r["success"]),
            r["unexpected_count"],
        )
        for r in part_rows
    }
    if got != want:
        bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        problems.append(f"{len(bad)} checkpoint verdicts differ from validate(partition_by): {bad[:2]}")
    write_names = ("ResultsStore.write_results", "ResultsStore.write_metrics", "ResultsStore.write_lineage")
    writes = [d for n in write_names for d in spans.select(n, "checkpoint")]
    validates = spans.select("SparkValidationEngine.validate", "checkpoint")
    return {
        "checkpoint.run_s": run_s,
        "checkpoint.validate_calls": float(len(validates)),
        "checkpoint.validate_s": sum(validates),
        "stores.write_calls": float(len(writes)),
        "stores.write_s": sum(writes),
        "stores.files_written": float(files),
        "stores.bytes_written": float(size),
        "stores.bytes_per_evr": size / max(1, len(stored)),
        "stores.resume_s": resume_s,
    }, problems


def planted_doc_removals(n_docs: int) -> set[int]:
    """Documents ``clean_corpus`` must drop from
    ``testing.documents.distributed_documents_df``: doc d copies the words of
    doc d-1 when d is a multiple of 97 (exact duplicate) or of 31 (plus one
    marker token: a near-duplicate). It is a duplicate only when doc d-1
    holds its own words, i.e. d-1 is not itself a copy."""

    def is_copy(d: int) -> bool:
        return d > 0 and (d % 97 == 0 or d % 31 == 0)

    return {d for d in range(n_docs) if is_copy(d) and not is_copy(d - 1)}


def probe_corpus(spark, seed: int, spans, work: str) -> tuple[dict[str, float], list[str]]:
    """``text.*`` and ``dedup.*``: clean_corpus(dedup='minhash') over seeded
    documents, then each operator timed on its own over the same documents."""
    from great_expectations_spark import pipeline
    from great_expectations_spark.operators import dedup as dd
    from great_expectations_spark.operators import text as tx
    from great_expectations_spark.testing.documents import distributed_documents_df

    problems: list[str] = []
    path = inputs.write_parquet(
        distributed_documents_df(spark, CORPUS_DOCS, partitions=8, seed=seed),
        os.path.join(work, "documents"),
    )
    inputs.warm_page_cache(path)
    docs = spark.read.parquet(path)
    spans.wrap(pipeline, "clean_corpus", "pipeline.clean_corpus")
    for fn in ("minhash_signatures", "minhash_lsh_candidates", "minhash_estimate_jaccard",
               "dedup_by_clusters", "duplicate_ngram_spans", "duplicated_token_stats"):
        spans.wrap(dd, fn, f"dedup.{fn}")

    def clean():
        res = pipeline.clean_corpus(
            docs,
            dedup="minhash",
            dedup_threshold=CORPUS_DEDUP_THRESHOLD,
            max_dup_fraction=CORPUS_MAX_DUP_FRACTION,
            persist_intermediate=True,
        )
        try:
            return {r["doc_id"] for r in res.df.select("doc_id").collect()}
        finally:
            res.unpersist()

    try:
        spans.active = True
        spans.call_id = "clean_corpus"
        clean_s, kept = _timed(clean)
    finally:
        spans.active = False
        spans.call_id = None
    removed = set(range(CORPUS_DOCS)) - kept
    planted = planted_doc_removals(CORPUS_DOCS)
    if removed != planted:
        problems.append(
            f"clean_corpus removed {len(removed)} documents, planted {len(planted)}; "
            f"unplanted {sorted(removed - planted)[:5]}, missed {sorted(planted - removed)[:5]}"
        )

    analyzed = tx.analyze_documents(docs)
    analyze_s, _ = _timed(lambda: analyzed.agg(F.bit_xor(F.xxhash64(*analyzed.columns))).collect())
    sigs = dd.minhash_signatures(docs)
    signatures_s, _ = _timed(lambda: sigs.persist().count())
    try:
        cands = dd.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
        n_cands = [cands.count() for _ in range(2)]
        if n_cands[0] != n_cands[1]:
            problems.append(f"LSH candidate count does not repeat: {n_cands}")
        pairs = dd.minhash_estimate_jaccard(sigs, cands).filter(
            F.col("est_jaccard") >= CORPUS_DEDUP_THRESHOLD
        ).persist()
        try:
            kept_pairs = pairs.count()
            clusters_s, _ = _timed(lambda: dd.duplicate_clusters(pairs).count())
        finally:
            pairs.unpersist()
    finally:
        sigs.unpersist()
    spans_s, _ = _timed(lambda: dd.duplicate_ngram_spans(docs, k=8).count())
    return {
        "corpus.clean_s": clean_s,
        "text.analyze_s": analyze_s,
        "dedup.signatures_s": signatures_s,
        "dedup.spans_s": spans_s,
        "dedup.clusters_s": clusters_s,
        "dedup.lsh_candidates": float(n_cands[0]),
        "dedup.lsh_pairs_kept": float(kept_pairs),
        "dedup.lsh_precision": kept_pairs / max(1, n_cands[0]),
    }, problems
