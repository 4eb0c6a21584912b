"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Modes:
  python bench.py              # headline bench (driver contract)
  python bench.py --streaming  # micro-batch image-suite throughput +
                               # stateful-dedup TTL evidence
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "100000"))


def make_spark(cores: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ges-bench")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def _suite_lineitem():
    from great_expectations_spark.core.config import ExpectationSuite

    s = ExpectationSuite(name="bench_lineitem")
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
    return s


def _image_suite():
    from great_expectations_spark.core.config import ExpectationSuite

    s = ExpectationSuite(name="bench_images")
    s.add("expect_image_bytes_to_be_decodable", column="bytes", mostly=0.98)
    s.add("expect_image_dims_to_match_metadata", mostly=0.95)
    s.add("expect_image_fmt_to_match_metadata", mostly=0.95)
    s.add("expect_image_phash_to_match", max_hamming_distance=0, mostly=0.9)
    s.add("expect_column_values_to_not_be_null", column="caption", mostly=0.95)
    s.add("expect_column_values_to_be_in_set", column="fmt", value_set=["png", "jpeg", "webp"])
    s.add("expect_table_row_count_to_be_between", min_value=1, max_value=10**12)
    return s


def _images_path(spark, n_images: int) -> str:
    """Materialize the deterministic image table once (parquet, executor-side
    generation) — benchmark input, analogous to the Iceberg table of the
    north rule. Generation is NOT part of the timed region."""
    path = f"/tmp/ges_bench_images_{n_images}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from great_expectations_spark.testing.images import distributed_images_df

        distributed_images_df(spark, n_images, partitions=max(CPUS * 2, 16)).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def bench_images(spark, n_images: int) -> None:
    """North-star workload: image-payload validation over a stored table —
    Arrow pandas_udf decode + bundled rollup aggregation."""
    from great_expectations_spark.operators.images import validate_images

    df = spark.read.parquet(_images_path(spark, n_images))
    result = validate_images(df, _image_suite(), partition_by=["fmt"], persist=True)
    assert result.results, "no results"


def run_headline(spark) -> dict[str, list[float]]:
    """Each headline query's trial times in seconds, one per interleaved
    pass, in registration order."""
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.operators import dedup as dd
    from great_expectations_spark.operators import similarity as sim
    from great_expectations_spark.operators import text as tx

    engine = SparkValidationEngine(spark)
    queries: list[tuple[str, object]] = []

    def timed(name, fn):
        # registration only — execution happens in interleaved passes below
        queries.append((name, fn))

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # warm JVM codegen + python worker pool once so timings measure the
    # engine, not first-query compilation
    engine.validate(
        lineitem.limit(2000), _suite_lineitem(), result_format="BASIC",
        partition_by=["l_returnflag"],
    )
    bench_images(spark, 5000)

    timed(
        "suite_lineitem",
        lambda: engine.validate(
            lineitem, _suite_lineitem(), result_format="BASIC", partition_by=["l_returnflag"]
        ),
    )

    def ref_and_unique():
        from great_expectations_spark.core.config import ExpectationSuite

        s = ExpectationSuite(name="bench_orders")
        s.add("expect_column_values_to_be_unique", column="o_orderkey")
        s.add(
            "expect_column_values_to_exist_in",
            column="o_custkey",
            ref=customer,
            ref_column="c_custkey",
            broadcast=True,
        )
        engine.validate(orders, s, result_format="BASIC")

    timed("orders_unique_referential", ref_and_unique)

    timed(
        "text_stats",
        lambda: tx.analyze_documents(documents).agg(
            F.sum("n_tokens"), F.sum(F.length("fp"))
        ).collect(),
    )
    # bands=8 × rows_per_band=8: P(collide) ≈ 99% at jaccard 0.9 but 3% at
    # 0.5 — candidate volume stays near the true-pair count even on corpora
    # where most pairs are moderately similar
    timed(
        "dedup_minhash",
        lambda: dd.minhash_dedup_pairs(documents, threshold=0.9, bands=8).count(),
    )
    timed(
        "dedup_simhash",
        lambda: dd.simhash_near_pairs(dd.simhash_signatures(documents), max_hamming=8).count(),
    )
    # added for round 2: substring-span dedup (headline sum gains one ~2-3s
    # query vs round 1 — noted in BENCH.md when comparing totals)
    timed(
        "dedup_spans",
        lambda: dd.duplicate_ngram_spans(documents, k=8).count(),
    )
    timed(
        "sim_lsh_pairs",
        lambda: sim.embedding_near_duplicate_pairs(
            embeddings, threshold=0.2, n_planes=8
        ).count(),
    )
    timed("images_validate", lambda: bench_images(spark, N_IMAGES))

    # Input bytes must be in page cache before the clock starts: the first
    # scan of each parquet file reads the shared/contended virtual disk and
    # has been measured 45x slower than the same warm scan (a 0.6 s
    # documents scan read 27.6 s cold). The benchmark measures the engine,
    # not the VM's disk neighbor — warm untimed, like _images_path.
    for path in [
        f"{SF_DIR}/lineitem.parquet",
        f"{SF_DIR}/orders.parquet",
        f"{SF_DIR}/customer.parquet",
        f"{SF_DIR}/documents.parquet",
        f"{SF_DIR}/embeddings.parquet",
        _images_path(spark, N_IMAGES),
    ]:
        targets = (
            [os.path.join(path, f) for f in os.listdir(path)]
            if os.path.isdir(path)
            else [path]
        )
        for f in targets:
            with open(f, "rb") as fh:
                while fh.read(1 << 24):
                    pass

    # The host is shared: external bursts (often 30 s - few min) swing single
    # timings 3x, and a fresh JVM's first execution of each query family is
    # JIT-cold. Back-to-back per-query trials let ONE burst contaminate
    # both trials of whichever query it lands on (observed: a 3.2 s query
    # reading 17-20 s in both trials while its standalone time was unchanged).
    # Interleaving full PASSES over the query list spreads each query's
    # trials minutes apart, so a burst costs each query at most one trial and
    # min() still has a clean candidate.
    raw_trials: dict[str, list[float]] = {name: [] for name, _ in queries}
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    for _ in range(passes):
        for name, fn in queries:
            t0 = time.time()
            fn()
            raw_trials[name].append(round(time.time() - t0, 3))
            # drop persisted intermediates (e.g. minhash signatures) so one
            # run's cache doesn't pressure the next run's memory
            spark.catalog.clearCache()
    return raw_trials


def bench_streaming(spark) -> dict:
    """Streaming evidence (VERDICT r3 #5): (1) per-micro-batch image-suite
    validation throughput through validate_stream — the planner auto-wires
    the Arrow decode for the un-enriched suite inside every micro-batch;
    (2) streaming_dedup state behavior over a multi-phase run — within-TTL
    suppression, state size vs live-key bound, processing-time expiry
    (no-data micro-batches fire the timeouts), and re-emission after
    expiry."""
    import math
    import shutil
    import tempfile

    from great_expectations_spark.streaming.validate_stream import (
        streaming_dedup,
        validate_stream,
    )

    out: dict = {}

    # ---- (1) image suite per micro-batch --------------------------------
    n = int(os.environ.get("SPARK_GRAFT_STREAM_IMAGES", "400000"))
    target_batches = 8
    path = _images_path(spark, n)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    per_trigger = max(1, math.ceil(len(files) / target_batches))
    schema = spark.read.parquet(path).schema
    ck = tempfile.mkdtemp(prefix="ges_stream_ck_")
    seen: list = []
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(path)
    )
    t0 = time.time()
    q = validate_stream(
        stream,
        _image_suite(),
        checkpoint_location=ck,
        trigger={"availableNow": True},
        on_result=lambda res, bid: seen.append(bool(res.success)),
    )
    q.awaitTermination()
    wall = time.time() - t0
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    batch_ms = sorted(p["durationMs"]["triggerExecution"] for p in prog)
    out["image_suite_stream"] = {
        "rows": n,
        "micro_batches": len(seen),
        "suites_green": all(seen),
        "wall_s": round(wall, 2),
        "rows_per_sec": int(n / wall),
        "median_batch_ms": batch_ms[len(batch_ms) // 2] if batch_ms else None,
    }
    shutil.rmtree(ck, ignore_errors=True)

    # ---- (2) stateful dedup: suppression, state bound, TTL expiry -------
    # TTL must comfortably span phases 1-2 (micro-batch latency on a loaded
    # host) while keeping the expiry wait before phase 3 short. Timeouts
    # are processed by micro-batches: the single no-data batch after phase 2
    # runs BEFORE expiry, so the removal lands in phase 3's own batch —
    # state_rows_final reflects it (expired keys dropped, phase-3 keys in).
    K = int(os.environ.get("SPARK_GRAFT_STREAM_KEYS", "50000"))
    ttl_s = 20
    src = tempfile.mkdtemp(prefix="ges_stream_dedup_src_")
    ck2 = tempfile.mkdtemp(prefix="ges_stream_dedup_ck_")

    def write_keys(lo: int, hi: int) -> None:
        spark.range(lo, hi).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
            F.col("id").alias("v"),
        ).coalesce(1).write.mode("append").parquet(src)

    def sink_count() -> int:
        return spark.sql("SELECT count(*) FROM ges_dedup_bench").collect()[0][0]

    def wait_rows(want: int, timeout: float = 180.0) -> int:
        t0 = time.time()
        while time.time() - t0 < timeout:
            if sink_count() >= want:
                time.sleep(2.0)  # settle: catch over-emission too
                return sink_count()
            time.sleep(0.25)
        raise TimeoutError(f"sink stuck below {want} rows ({sink_count()})")

    def last_state_rows() -> int | None:
        for p in reversed(q2.recentProgress):
            if p.get("stateOperators"):
                return p["stateOperators"][0]["numRowsTotal"]
        return None

    write_keys(0, K)  # phase 1: all new
    stream2 = (
        spark.readStream.schema("key string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t0 = time.time()
    q2 = (
        streaming_dedup(stream2, "key", state_ttl=f"{ttl_s} seconds")
        .writeStream.format("memory")
        .queryName("ges_dedup_bench")
        .outputMode("append")
        .option("checkpointLocation", ck2)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        wait_rows(K)
        write_keys(K // 2, 3 * K // 2)  # phase 2: half dup-in-TTL, half new
        after_p2 = wait_rows(3 * K // 2)
        phase2_s = time.time() - t0
        suppressed = 2 * K - after_p2
        state_peak = max(
            (p["stateOperators"][0]["numRowsTotal"] for p in q2.recentProgress
             if p.get("stateOperators")),
            default=None,
        )
        time.sleep(ttl_s + 6)  # let every key's TTL lapse
        write_keys(0, K)  # phase 3: keys whose state expired must RE-emit
        final = wait_rows(after_p2 + K)
        total_wall = time.time() - t0
        state_final = last_state_rows()
    finally:
        # a wait_rows timeout (loaded host) must not leave the 500ms-trigger
        # query running and the temp dirs/sink behind for the next attempt
        q2.stop()
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck2, ignore_errors=True)
    out["stateful_dedup_stream"] = {
        "keys_per_phase": K,
        "input_rows": 3 * K,
        "emitted_rows": final,
        "dup_suppressed_within_ttl": suppressed,
        "reemitted_after_ttl_expiry": final - after_p2,
        "state_rows_peak": state_peak,
        "state_rows_after_expiry_batch": state_final,
        "state_ttl_s": ttl_s,
        "phase12_rows_per_sec": int(2 * K / phase2_s),
        "wall_s": round(total_wall, 2),
        "ok": bool(
            suppressed == K // 2          # within-TTL dups suppressed
            and final == 5 * K // 2       # expired keys re-emitted, exactly
            and state_peak is not None
            and state_peak <= 3 * K // 2  # state bounded by live keys
            and (state_final or 0) <= 3 * K // 2  # expiry removed dead keys
        ),
    }
    return out


def main() -> None:
    # an unknown flag (e.g. a retired mode) exits 2 before any JVM starts
    parser = argparse.ArgumentParser(description="headline benchmark harness")
    parser.add_argument(
        "--streaming", action="store_true",
        help="streaming evidence instead of the headline",
    )
    args = parser.parse_args()

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    load_start = [round(x, 2) for x in os.getloadavg()]
    if args.streaming:
        bench_images(spark, 5000)  # warm codegen + python workers
        out = bench_streaming(spark)
        out["loadavg_start"] = load_start
        out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        print(json.dumps(out))
        spark.stop()
        return

    # self-annotating record (VERDICT r4 #4): host load at start/end plus the
    # raw per-trial times, so a contended capture is identifiable from the
    # JSON alone (this host's external load swings timings 3x)
    raw_trials = run_headline(spark)
    load_end = [round(x, 2) for x in os.getloadavg()]
    timings = {name: min(trials) for name, trials in raw_trials.items()}
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline validation+pipeline suite wall seconds (sum of per-query best across passes)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "per_query": "best per query across interleaved full passes (shared noisy host)",
                "raw_trials": raw_trials,
                "loadavg_start": load_start,
                "loadavg_end": load_end,
                "sf": SF_DIR,
                "cpus": CPUS,
                "n_images": N_IMAGES,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
