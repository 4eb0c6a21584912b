"""Structured-Streaming validation (streaming/validate_stream.py) + partition
builders (operators/partition.py)."""

import time

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.operators.partition import (
    build_categorical_partition_object,
    build_partition_bins,
    build_partition_object,
)
from great_expectations_spark.streaming.validate_stream import (
    streaming_metrics,
    validate_stream,
)


@pytest.fixture(autouse=True)
def no_query_left_running(spark):
    """A streaming query a test leaves active keeps running micro-batches
    against the shared session through every later test: fail the test that
    leaked it, and stop what it left."""
    yield
    leaked = spark.streams.active
    for q in leaked:
        q.stop()
    assert not leaked, [q.name for q in leaked]


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("stream_src")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(src / "events"))
    return str(src / "events")


def _suite():
    s = ExpectationSuite(name="stream")
    s.add("expect_column_values_to_not_be_null", column="event_type")
    s.add(
        "expect_column_values_to_be_in_set",
        column="event_type",
        value_set=["click", "view", "purchase", "signup"],  # 'error' violates
    )
    s.add("expect_column_values_to_be_between", column="value", min_value=0)
    return s


def test_validate_stream_micro_batches(spark, events_stream_dir, tmp_path):
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    results = []
    q = validate_stream(
        stream,
        _suite(),
        checkpoint_location=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
        on_result=lambda r, bid: results.append((bid, r)),
    )
    assert q.awaitTermination(120)
    assert results, "no micro-batches validated"
    total_elem = sum(
        r.results[0].result["element_count"] for _, r in results
    )
    assert total_elem == spark.read.parquet(events_stream_dir).count()
    # in_set expectation must have flagged 'error' rows across batches
    total_unexpected = sum(
        r.results[1].result["unexpected_count"] for _, r in results
    )
    expected_errors = (
        spark.read.parquet(events_stream_dir)
        .filter("event_type = 'error'")
        .count()
    )
    assert total_unexpected == expected_errors


def test_streaming_metrics_windowed(spark, events_stream_dir):
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    metrics = streaming_metrics(
        stream, _suite(), ts_col="ts", window_duration="1 day", watermark_delay="0 seconds"
    )
    q = (
        metrics.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_metrics")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_metrics").collect()
    # append mode emits only watermark-closed windows; with availableNow the
    # final window may be withheld — compare against the closed subset
    assert rows
    batch = spark.read.parquet(events_stream_dir)
    for r in rows:
        start, end = r["window"]["start"], r["window"]["end"]
        sub = batch.filter((F.col("ts") >= start) & (F.col("ts") < end))
        assert r["element_count"] == sub.count()
        assert (
            r["expect_column_values_to_be_in_set_unexpected"]
            == sub.filter("event_type = 'error'").count()
        )


def test_streaming_metrics_respects_row_condition(spark, events_stream_dir):
    """A conditioned map expectation's windowed unexpected count must be
    restricted to its row_condition domain, matching batch semantics —
    out-of-domain violations don't count."""
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    s = ExpectationSuite(name="stream-rc")
    s.add(
        "expect_column_values_to_be_in_set",
        column="event_type",
        value_set=["click", "view", "purchase", "signup"],
        row_condition="value > 50",
        condition_parser="spark",
    )
    metrics = streaming_metrics(
        stream, s, ts_col="ts", window_duration="1 day",
        watermark_delay="0 seconds",
    )
    q = (
        metrics.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_metrics_rc")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_metrics_rc").collect()
    assert rows
    batch = spark.read.parquet(events_stream_dir)
    checked_nonzero = 0
    for r in rows:
        start, end = r["window"]["start"], r["window"]["end"]
        sub = batch.filter((F.col("ts") >= start) & (F.col("ts") < end))
        want = sub.filter("value > 50 AND event_type = 'error'").count()
        assert r["expect_column_values_to_be_in_set_unexpected"] == want
        # prove the domain actually excludes rows: some window must have
        # out-of-domain errors that would inflate an unconditioned count
        if sub.filter("value <= 50 AND event_type = 'error'").count():
            checked_nonzero += 1
    assert checked_nonzero > 0


def test_validation_sink_idempotent_on_retry(spark, tmp_path):
    """foreachBatch re-invokes the sink with the same batch_id after a
    failure; a retry whose previous attempt committed its rows must not
    append a second copy (store.run_exists gate)."""
    from great_expectations_spark.sources.stores import ResultsStore
    from great_expectations_spark.streaming.validate_stream import validation_sink

    store = ResultsStore(spark, str(tmp_path / "sink_store"))
    sink = validation_sink(_suite(), store=store)
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(100)
    sink(df, 7)
    n1 = store.read_results().count()
    assert n1 > 0
    sink(df, 7)  # retry of the same micro-batch
    assert store.read_results().count() == n1
    sink(df, 8)  # a NEW batch still appends
    assert store.read_results().count() == 2 * n1


def test_build_partition_uniform_and_auto(spark, lineitem):
    po = build_partition_object(lineitem, "l_quantity", bins="uniform", n_bins=5)
    assert len(po["bins"]) == 6
    assert abs(sum(po["weights"]) - 1.0) < 1e-9
    assert po["tail_weights"] == [0.0, 0.0]
    auto_bins = build_partition_bins(lineitem, "l_quantity", bins="auto")
    assert len(auto_bins) >= 2
    q_bins = build_partition_bins(lineitem, "l_quantity", bins="ntile", n_bins=4)
    assert sorted(q_bins) == q_bins


def test_partition_feeds_drift_expectation(spark, lineitem):
    """Baseline partition from one half of the data validates the other."""
    from great_expectations_spark.engine import validate

    base = lineitem.filter("l_orderkey % 2 = 0")
    rest = lineitem.filter("l_orderkey % 2 = 1")
    po = build_partition_object(base, "l_quantity", bins="uniform", n_bins=8)
    s = ExpectationSuite(name="drift")
    s.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="l_quantity",
        partition_object=po,
        threshold=0.05,
    )
    res = validate(rest, s)
    assert res.results[0].success is True  # same distribution
    assert res.results[0].result["observed_value"] < 0.05


def test_categorical_partition_object(spark, lineitem):
    po = build_categorical_partition_object(lineitem, "l_returnflag")
    assert po["values"] == ["A", "N", "R"]
    assert abs(sum(po["weights"]) - 1.0) < 1e-9
    assert build_categorical_partition_object(lineitem, "l_orderkey", max_values=10) is None


def test_streaming_dedup_across_micro_batches(spark, tmp_path):
    """applyInPandasWithState dedup: a key seen in batch 1 is suppressed in
    batch 2; within a batch only the first row of a key is emitted."""
    from great_expectations_spark.streaming.validate_stream import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    # batch files written separately; maxFilesPerTrigger=1 → 2 micro-batches
    spark.createDataFrame(
        [("fp1", "doc a"), ("fp2", "doc b"), ("fp1", "doc a dup-in-batch")],
        "fp string, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(
        [("fp1", "doc a again"), ("fp3", "doc c")],
        "fp string, text string",
    ).coalesce(1).write.parquet(str(src / "b2"))

    schema = "fp string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    deduped = streaming_dedup(stream, key_col="fp", state_ttl="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # keyed state with a processing-time timeout keeps an availableNow query
    # running no-data micro-batches, so it never terminates on its own: wait
    # until both files' batches are in the sink (fp2 is only in b1, fp3 only
    # in b2), then stop it
    fps: list = []
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            rows = spark.sql("SELECT fp FROM dedup_out").collect()
            fps = sorted(r["fp"] for r in rows)
            if {"fp2", "fp3"} <= set(fps):
                break
            time.sleep(0.25)
    finally:
        q.stop()
    assert fps == ["fp1", "fp2", "fp3"], fps


def test_streaming_drift_monitor(spark, tmp_path):
    """Per-micro-batch drift detection: a KL baseline profiled from a
    reference batch rides validate_stream; the micro-batch drawn from the
    baseline distribution passes, the shifted one trips. maxFilesPerTrigger=1
    pins one file per micro-batch so the verdict sequence is deterministic."""
    src = tmp_path / "drift_src"
    baseline = spark.range(2000).select(
        (F.col("id") % 100 / 100.0).alias("x")
    )
    shifted = spark.range(2000).select(
        (F.col("id") % 100 / 400.0).alias("x")  # clumped in [0, 0.25)
    )
    baseline.coalesce(1).write.parquet(str(src / "f=0"))
    shifted.coalesce(1).write.parquet(str(src / "f=1"))

    po = build_partition_object(baseline, "x", bins="uniform", n_bins=4)
    s = ExpectationSuite(name="stream_drift")
    s.add(
        "expect_column_kl_divergence_to_be_less_than",
        column="x", partition_object=po, threshold=0.1,
    )

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    results = []
    q = validate_stream(
        stream, s,
        checkpoint_location=str(tmp_path / "drift_ckpt"),
        trigger={"availableNow": True},
        on_result=lambda r, bid: results.append(r),
    )
    assert q.awaitTermination(120)
    verdicts = sorted(bool(r.results[0].success) for r in results)
    assert verdicts == [False, True], [
        (r.results[0].success, r.results[0].result.get("observed_value"))
        for r in results
    ]


def test_streaming_drift_metrics_match_batch_stats(spark, events_stream_dir):
    """Windowed PSI/KS from the pure-streaming aggregation equal the
    driver-side stats.psi / ks_from_histograms on the same windowed counts —
    the Catalyst unrolling is an exact replica, continuous AND categorical."""
    from great_expectations_spark.functions.stats import ks_from_histograms, psi
    from great_expectations_spark.streaming.validate_stream import (
        streaming_drift_metrics,
    )

    schema = spark.read.parquet(events_stream_dir).schema
    batch = spark.read.parquet(events_stream_dir)

    cont_po = {"bins": [0.0, 50.0, 100.0, 150.0, 200.0],
               "weights": [0.25, 0.25, 0.25, 0.25]}
    cat_po = {"values": ["click", "view", "purchase"],
              "weights": [0.5, 0.3, 0.2]}

    for po, col in ((cont_po, "value"), (cat_po, "event_type")):
        stream = spark.readStream.schema(schema).parquet(events_stream_dir)
        name = f"drift_{col}"
        q = (
            streaming_drift_metrics(
                stream, col, po, ts_col="ts",
                window_duration="1 day", watermark_delay="0 seconds",
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        assert rows
        for r in rows:
            start, end = r["window"]["start"], r["window"]["end"]
            sub = batch.filter((F.col("ts") >= start) & (F.col("ts") < end))
            vals = [x[0] for x in sub.select(col).collect() if x[0] is not None]
            if po is cont_po:
                bins = po["bins"]
                counts = [sum(1 for v in vals if v < bins[0])]
                for i in range(len(bins) - 1):
                    last = i == len(bins) - 2
                    counts.append(sum(
                        1 for v in vals
                        if v >= bins[i] and (v <= bins[i + 1] if last else v < bins[i + 1])
                    ))
                counts.append(sum(1 for v in vals if v > bins[-1]))
                expected = [0.0] + po["weights"] + [0.0]
            else:
                counts = [sum(1 for v in vals if v == s) for s in po["values"]]
                counts.append(sum(1 for v in vals if v not in po["values"]))
                expected = list(po["weights"]) + [0.0]
            assert r["nonnull_count"] == len(vals)
            assert r["psi"] == pytest.approx(psi(counts, expected), rel=1e-9)
            assert r["ks_statistic"] == pytest.approx(
                ks_from_histograms(counts, expected), rel=1e-9
            )


def test_streaming_drift_metrics_per_partition(spark, events_stream_dir):
    """partition_by adds one drift row per (window, partition) whose counts
    are partition-local — verified against a filtered batch recomputation."""
    from great_expectations_spark.functions.stats import psi
    from great_expectations_spark.streaming.validate_stream import (
        streaming_drift_metrics,
    )

    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    po = {"bins": [0.0, 100.0, 200.0], "weights": [0.5, 0.5]}
    q = (
        streaming_drift_metrics(
            stream, "value", po, ts_col="ts",
            window_duration="7 days", watermark_delay="0 seconds",
            partition_by=["event_type"],
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_part")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM drift_part").collect()
    assert rows and all(r["event_type"] is not None for r in rows)
    batch = spark.read.parquet(events_stream_dir)
    for r in rows[:5]:
        start, end = r["window"]["start"], r["window"]["end"]
        vals = [
            x[0]
            for x in batch.filter(
                (F.col("ts") >= start) & (F.col("ts") < end)
                & (F.col("event_type") == r["event_type"])
            ).select("value").collect()
            if x[0] is not None
        ]
        counts = [
            sum(1 for v in vals if v < 0.0),
            sum(1 for v in vals if 0.0 <= v < 100.0),
            sum(1 for v in vals if 100.0 <= v <= 200.0),
            sum(1 for v in vals if v > 200.0),
        ]
        assert r["nonnull_count"] == len(vals)
        assert r["psi"] == pytest.approx(psi(counts, [0.0, 0.5, 0.5, 0.0]), rel=1e-9)


def test_validate_stream_fires_actions_per_micro_batch(
    spark, events_stream_dir, tmp_path
):
    """Notification actions attach to the streaming sink exactly like the
    checkpoint action_list: one micro_batch_validated event per batch,
    notify_on-gated, failures swallowed."""
    from great_expectations_spark.sources.stores import WebhookNotificationAction

    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    sent, results = [], []

    def boom(url, payload):
        raise RuntimeError("webhook down")

    q = validate_stream(
        stream,
        _suite(),
        checkpoint_location=str(tmp_path / "ckpt-act"),
        trigger={"availableNow": True},
        on_result=lambda r, bid: results.append(bid),
        actions=[
            WebhookNotificationAction(
                "https://h.invalid", transport=lambda u, p: sent.append(p)
            ),
            WebhookNotificationAction("https://h.invalid", transport=boom),
        ],
    )
    assert q.awaitTermination(120)
    assert results and len(sent) == len(results)  # boom never killed a batch
    ev = sent[0]
    assert ev["event_type"] == "micro_batch_validated"
    assert ev["run_id"].startswith("stream-")
    assert "statistics" in ev and isinstance(ev["success"], bool)


def test_validate_stream_image_suite_auto_enrich(spark, tmp_path):
    """An image suite runs per micro-batch through readStream with NO manual
    decode wiring — the planner auto-adds the shared decode projection
    inside each foreachBatch validation (the streaming face of the
    north-rule image pipeline)."""
    from great_expectations_spark.core.config import ExpectationSuite
    from great_expectations_spark.testing.images import images_df

    df, _, _ = images_df(
        spark, n=90, seed=6,
        dup_frac=0, corrupt_frac=0, dim_mismatch_frac=0, fmt_mismatch_frac=0,
        phash_perturb_frac=0, null_caption_frac=0,
    )
    src = str(tmp_path / "imgs_stream")
    df.repartition(3).write.parquet(src)

    suite = ExpectationSuite(name="img-stream")
    suite.add("expect_image_bytes_to_be_decodable", column="bytes")
    suite.add("expect_image_fmt_to_match_metadata", column="bytes", fmt_column="fmt")

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    results = []
    q = validate_stream(
        stream,
        suite,
        checkpoint_location=str(tmp_path / "imgckpt"),
        trigger={"availableNow": True},
        on_result=lambda r, bid: results.append(r),
    )
    assert q.awaitTermination(120)
    assert len(results) >= 2  # maxFilesPerTrigger=1 over 3 files
    assert all(r.success for r in results)
    total = sum(r.results[0].result["element_count"] for r in results)
    assert total == 90


def test_validate_stream_kill_and_restart_exactly_once(
    spark, events_stream_dir, tmp_path
):
    """Kill a stream mid-run and restart it from the same Spark checkpoint:
    the killed micro-batch must replay under its ORIGINAL batch_id,
    already-committed batches must not reprocess, and the results store must
    end exactly-once — every input row validated in exactly one stored run,
    no duplicate and no lost rows (VERDICT r4 #5). The kill is injected
    AFTER the store write of the second batch, so the replayed batch also
    exercises the run_exists idempotence gate under a real restart (not a
    same-process sink retry)."""
    from great_expectations_spark.sources.stores import ResultsStore

    schema = spark.read.parquet(events_stream_dir).schema
    total_rows = spark.read.parquet(events_stream_dir).count()
    store = ResultsStore(spark, str(tmp_path / "kr_store"))
    ckpt = str(tmp_path / "kr_ckpt")

    def stream():
        # 4 source files (module fixture repartitions to 4), one per batch
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_stream_dir)
        )

    first_run = []

    def killer(result, batch_id):
        first_run.append(batch_id)
        if len(first_run) == 2:
            raise RuntimeError("injected mid-stream kill")

    q = validate_stream(
        stream(),
        _suite(),
        checkpoint_location=ckpt,
        store=store,
        trigger={"availableNow": True},
        on_result=killer,
    )
    with pytest.raises(Exception, match="injected mid-stream kill"):
        q.awaitTermination(120)
    assert first_run == [0, 1]  # died on the second micro-batch

    replayed = []
    q2 = validate_stream(
        stream(),
        _suite(),
        checkpoint_location=ckpt,
        store=store,
        trigger={"availableNow": True},
        on_result=lambda r, bid: replayed.append(bid),
    )
    assert q2.awaitTermination(120)

    # the failed batch replays with its original id; committed batch 0 does
    # not reprocess; the remaining batches follow in order
    assert replayed[0] == 1 and 0 not in replayed
    rows = store.read_results().filter(
        F.col("expectation_type") == "expect_column_values_to_not_be_null"
    )
    per_run = {r["run_id"]: r["element_count"] for r in rows.collect()}
    n_batches = len(set(first_run) | set(replayed))
    assert set(per_run) == {f"stream-{i}" for i in range(n_batches)}
    assert rows.count() == len(per_run)  # each batch stored exactly once
    assert sum(per_run.values()) == total_rows  # no lost, no duplicated rows
