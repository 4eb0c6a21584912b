"""CheckpointRunner's own accounting: the metrics it stores per partition,
the outcome it reports from one lineage read, and the run_completed event of
an unpartitioned checkpoint."""

import json
import os
from dataclasses import replace

from pyspark.sql import functions as F

from great_expectations_spark.core.config import ExpectationSuite
from great_expectations_spark.sources.stores import CheckpointRunner, ResultsStore


def _between_suite(name: str) -> ExpectationSuite:
    suite = ExpectationSuite(name=name)
    suite.add("expect_column_values_to_be_between", column="v", min_value=0, max_value=10)
    return suite


def _recording_action(events: list) -> dict:
    """An action_list entry whose webhook appends each payload to events."""

    def record(url, payload):
        events.append(payload)

    return {"class_name": "WebhookNotificationAction", "url": "u", "transport": record}


def test_checkpoint_metrics_land_under_their_partition_key(spark, tmp_path):
    """A partition's metrics describe its slice: stored with a NULL
    partition_key they would read as whole-table history (a 100-row table
    would show table.row_count 70 and 30)."""
    from great_expectations_spark.profiler import fetch_metric_histories

    df = spark.createDataFrame(
        [(i, "a" if i < 70 else "b") for i in range(100)], "v int, g string"
    )
    suite = ExpectationSuite(name="m")
    suite.add("expect_table_row_count_to_be_between", min_value=0)
    suite.add("expect_column_min_to_be_between", column="v", min_value=0)
    store = ResultsStore(spark, str(tmp_path / "store"))
    CheckpointRunner(spark, store).run(
        df, suite, partition_by=["g"], input_fingerprint="fp", run_id="r1"
    )
    rows = store.read_metrics().collect()
    assert rows and all(r["partition_key"] is not None for r in rows)
    row_counts = {
        r["partition_key"]: json.loads(r["value"])
        for r in rows
        if json.loads(r["metric_key"]) == ["table.row_count"]
    }
    assert row_counts == {'{"g": "a"}': 70, '{"g": "b"}': 30}
    assert fetch_metric_histories(store, [["table.row_count"]], 0) == {}


def test_unpartitioned_checkpoint_run_completed_event(spark, tmp_path):
    """Without partition_by the run_completed event is a single run's: it
    carries the suite statistics and no partitions_* counts, so the
    renderers print their n-of-m line."""
    from great_expectations_spark.sources.checkpoint_config import (
        load_checkpoint_config,
        run_checkpoint,
    )
    from great_expectations_spark.sources.stores import render_slack_payload

    data = str(tmp_path / "data.parquet")
    spark.createDataFrame([(1,), (2,), (30,)], "v int").write.parquet(data)
    suite = _between_suite("single")
    suite.add("expect_column_values_to_not_be_null", column="v")
    events = []
    cfg = load_checkpoint_config(
        {"name": "one", "batch": {"path": data}, "suite": suite.to_dict()}, env={}
    )
    out = run_checkpoint(
        spark, replace(cfg, action_list=[_recording_action(events)]), run_id="r1"
    )
    assert out["success"] is False
    (event,) = events
    assert event["event_type"] == "run_completed" and event["success"] is False
    assert not any(k.startswith("partitions_") for k in event)
    assert event["statistics"]["evaluated_expectations"] == 2
    text = render_slack_payload(event)["blocks"][0]["text"]["text"]
    assert "*1* of *2* expectations were met" in text
    assert "partitions run" not in text


def test_resumed_run_reports_each_failure_once_from_one_lineage_read(
    spark, tmp_path, monkeypatch
):
    """A resumed run with a stored failing partition (A) and a new failing
    partition (B) reports A once as a skipped failure and B once as this
    run's failure — all from one lineage collect, which also sources the
    conjunction rollup."""
    from great_expectations_spark.sources.checkpoint_config import (
        load_checkpoint_config,
        run_checkpoint,
    )

    data = str(tmp_path / "data.parquet")
    store_root = str(tmp_path / "store")
    lineage_dir = os.path.join(store_root, "lineage")
    a = spark.createDataFrame([(1, "A"), (99, "A")], "v int, g string")
    a.write.parquet(data)
    cfg = load_checkpoint_config(
        {
            "name": "ck",
            "batch": {"path": data},
            "suite": _between_suite("s").to_dict(),
            "partition_by": ["g"],
            "store": store_root,
        },
        env={},
    )
    first = run_checkpoint(spark, cfg, run_id="r1")
    assert first["failed_expectations"] == 1 and first["success"] is False

    a.unionByName(
        spark.createDataFrame([(50, "B")], "v int, g string")
    ).write.mode("overwrite").parquet(data)
    lineage_collects = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def spy(self):
        if any(f"{lineage_dir}/" in f for f in self.inputFiles()):
            lineage_collects.append(1)
        return collect(self)

    monkeypatch.setattr(frame, "collect", spy)
    second = run_checkpoint(spark, cfg, run_id="r2")
    monkeypatch.setattr(frame, "collect", collect)
    assert len(lineage_collects) == 1
    assert second["partitions_skipped"] == 1 and second["partitions_run"] == 1
    assert second["failed_expectations"] == 1  # B, this run
    assert second["skipped_partitions_with_failures"] == 1  # A, stored
    assert second["success"] is False

    # the rollup merged A's stored row (from r1) with B's row of this run
    (glob,) = ResultsStore(spark, store_root).read_results().filter(
        (F.col("run_id") == "r2") & F.col("partition_key").isNull()
    ).collect()
    assert glob["element_count"] == 3 and glob["unexpected_count"] == 2

    # nothing runs, yet the stored failures fail the run and its event
    events = []
    third = run_checkpoint(
        spark, replace(cfg, action_list=[_recording_action(events)]), run_id="r3"
    )
    assert third["partitions_skipped"] == 2 and third["failed_expectations"] == 0
    assert third["skipped_partitions_with_failures"] == 2
    assert third["success"] is False
    (done,) = [e for e in events if e["event_type"] == "run_completed"]
    assert done["partitions_failed"] == 0 and done["success"] is False
