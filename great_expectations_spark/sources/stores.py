"""Result / metric / lineage persistence + checkpoint-resume.

Replaces the reference's pluggable stores (data_context/store/ —
validations_store.py, metric_store.py) and its AsyncExecutor checkpoint loop
(checkpoint/checkpoint.py:168-197) with table writes:

- results   one row per (run_id, expectation, partition_key)
- metrics   one row per resolved metric
- lineage   one row per (run_id, partition_key) — powers resume

On a real cluster these are Iceberg tables (``writeTo(...).append()`` with
snapshot-pinned reads); in this sandbox the same layout is written as
parquet directories. Resume = skip partitions whose lineage row exists with
status='completed' for the same (suite_id, input_fingerprint).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.result import (
    ExpectationValidationResult,
    SuiteValidationResult,
)

RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("suite_name", T.StringType()),
        T.StructField("expectation_type", T.StringType()),
        T.StructField("expectation_kwargs", T.StringType()),
        T.StructField("partition_key", T.StringType()),  # json; null = global
        T.StructField("success", T.BooleanType()),
        T.StructField("element_count", T.LongType()),
        T.StructField("unexpected_count", T.LongType()),
        T.StructField("unexpected_percent", T.DoubleType()),
        T.StructField("observed_value", T.StringType()),
        T.StructField("sample_violations", T.ArrayType(T.StringType())),
        T.StructField("exception_message", T.StringType()),
        # write-time stamp: run_ids are uuids, so cross-run recency (URN
        # resolution "latest run wins") needs an explicit ordering column
        T.StructField("created_at", T.DoubleType()),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("suite_name", T.StringType()),
        T.StructField("metric_key", T.StringType()),  # json list of key parts
        T.StructField("partition_key", T.StringType()),  # json; null = global
        T.StructField("value", T.StringType()),  # json-encoded value
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("suite_id", T.StringType()),
        T.StructField("input_fingerprint", T.StringType()),
        T.StructField("partition_key", T.StringType()),
        T.StructField("status", T.StringType()),
        # pass/fail of the suite on this partition: a partition that RAN but
        # failed expectations is 'completed' (resume skips it — the data
        # wouldn't change) yet must still fail the overall exit code
        T.StructField("suite_success", T.BooleanType()),
        T.StructField("started_at", T.DoubleType()),
        T.StructField("finished_at", T.DoubleType()),
    ]
)


def _evr_row(
    run_id: str, suite_name: str, evr: ExpectationValidationResult, created_at: float
) -> tuple:
    res = evr.result or {}
    obs = res.get("observed_value")
    sample = res.get("partial_unexpected_list")
    return (
        run_id,
        suite_name,
        evr.expectation_config.get("expectation_type"),
        json.dumps(evr.expectation_config.get("kwargs", {}), default=str),
        json.dumps(evr.partition, default=str) if evr.partition else None,
        bool(evr.success),
        int(res["element_count"]) if res.get("element_count") is not None else None,
        int(res["unexpected_count"]) if res.get("unexpected_count") is not None else None,
        float(res["unexpected_percent"]) if res.get("unexpected_percent") is not None else None,
        json.dumps(obs, default=str) if obs is not None else None,
        [json.dumps(v, default=str) for v in sample] if sample else None,
        evr.exception_info.get("exception_message"),
        created_at,
    )


def results_to_rows(result: SuiteValidationResult, run_id: Optional[str] = None) -> list[tuple]:
    run_id = run_id or str(uuid.uuid4())
    suite_name = result.meta.get("suite_name", "unnamed")
    created_at = time.time()
    rows = [_evr_row(run_id, suite_name, e, created_at) for e in result.results]
    rows += [_evr_row(run_id, suite_name, e, created_at) for e in result.partition_results]
    return rows


def _n_failing(rows: list[tuple]) -> int:
    """Failing EVR rows among RESULTS_SCHEMA tuples (field 5 is success)."""
    return sum(1 for r in rows if not r[5])


class ResultsStore:
    """Parquet-backed (Iceberg-shaped) store for validation outputs."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write_results(self, result: SuiteValidationResult, run_id: str) -> list[tuple]:
        """Append and return the written rows (callers that also need the
        rows — e.g. the checkpoint rollup — reuse them instead of
        re-serializing)."""
        rows = results_to_rows(result, run_id)
        df = self.spark.createDataFrame(rows, schema=RESULTS_SCHEMA)
        df.write.mode("append").parquet(self._path("validation_results"))
        return rows

    def run_exists(self, run_id: str) -> bool:
        """True iff a committed results row exists for ``run_id`` — the
        foreachBatch retry idempotence check (streaming validation_sink).
        A retried micro-batch whose previous attempt committed its result
        write must not append a second copy; a mid-write crash leaves no
        committed files (Spark stages the job), so the retry writes fresh."""
        try:
            df = self.spark.read.parquet(self._path("validation_results"))
        except Exception:
            return False
        return bool(df.filter(F.col("run_id") == run_id).limit(1).count())

    def write_metrics(self, result: SuiteValidationResult, run_id: str) -> None:
        """Resolved metric values, global + per partition — the cross-run
        metric history (reference: metric_store.py, StoreMetricsAction
        checkpoint/actions.py:909-993)."""
        m = result.metrics or {}
        suite_name = result.meta.get("suite_name", "unnamed")
        rows = [
            (run_id, suite_name, k, None, json.dumps(v, default=str))
            for k, v in m.get("global", {}).items()
        ]
        for pkey, pmetrics in m.get("partitions", []):
            pj = json.dumps(pkey, default=str)
            rows += [
                (run_id, suite_name, k, pj, json.dumps(v, default=str))
                for k, v in pmetrics.items()
            ]
        if not rows:
            return
        df = self.spark.createDataFrame(rows, schema=METRICS_SCHEMA)
        df.write.mode("append").parquet(self._path("metrics"))

    def read_metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._path("metrics"))

    def write_lineage(
        self,
        run_id: str,
        suite_id: str,
        input_fingerprint: str,
        partition_key: Optional[dict],
        status: str,
        started_at: float,
        suite_success: Optional[bool] = None,
    ) -> None:
        row = (
            run_id,
            suite_id,
            input_fingerprint,
            json.dumps(partition_key, default=str) if partition_key else "__global__",
            status,
            suite_success,
            started_at,
            time.time(),
        )
        df = self.spark.createDataFrame([row], schema=LINEAGE_SCHEMA)
        df.write.mode("append").parquet(self._path("lineage"))

    def latest_completed(
        self, suite_id: str, input_fingerprint: str
    ) -> dict[str, tuple[str, Optional[bool]]]:
        """partition_key -> (run_id, suite_success) of its latest completed
        lineage row (by finished_at) for this (suite, fingerprint),
        '__global__' included — THE lineage query: resume skips these keys,
        the conjunction rollup reads their rows from that run_id, and a
        False verdict fails the run's exit code although the partition is
        skipped. suite_success is None on lineage written before that
        column existed."""
        try:
            df = self.spark.read.parquet(self._path("lineage"))
        except Exception:
            return {}
        ok = (
            F.col("suite_success")
            if "suite_success" in df.columns
            else F.lit(None).cast("boolean")
        )
        rows = (
            df.filter(
                (F.col("suite_id") == suite_id)
                & (F.col("input_fingerprint") == input_fingerprint)
                & (F.col("status") == "completed")
            )
            .groupBy("partition_key")
            .agg(F.max(F.struct("finished_at", "run_id", ok.alias("ok"))).alias("_last"))
            .select("partition_key", "_last.run_id", "_last.ok")
            .collect()
        )
        return {r["partition_key"]: (r["run_id"], r["ok"]) for r in rows}

    def failed_partitions(self, suite_id: str, input_fingerprint: str) -> set[str]:
        """Completed partitions whose latest lineage row recorded a failing
        suite."""
        return {
            k
            for k, (_, ok) in self.latest_completed(suite_id, input_fingerprint).items()
            if ok is False
        }

    def read_results(self) -> DataFrame:
        return self.spark.read.parquet(self._path("validation_results"))


class WebhookNotificationAction:
    """Checkpoint notification action — webhook-shaped, covering the
    reference's Slack/PagerDuty/Opsgenie/email action semantics
    (checkpoint/actions.py:40-1192): after each validation event, POST a
    JSON payload, gated by ``notify_on`` ('all' | 'success' | 'failure').

    ``transport(url, payload_dict)`` is injectable (tests, custom auth,
    non-HTTP sinks); the default uses urllib with a short timeout and never
    raises into the validation run (notification failure must not fail the
    checkpoint — reference actions catch and log the same way)."""

    def __init__(self, url: str, notify_on: str = "all", transport=None) -> None:
        if notify_on not in ("all", "success", "failure"):
            raise ValueError("notify_on must be 'all', 'success', or 'failure'")
        self.url = url
        self.notify_on = notify_on
        self.transport = transport or self._http_post

    @staticmethod
    def _http_post(url: str, payload: dict) -> None:
        import urllib.request

        req = urllib.request.Request(
            url,
            data=json.dumps(payload, default=str).encode("utf-8"),
            headers={"Content-Type": "application/json"},
        )
        urllib.request.urlopen(req, timeout=10).read()

    def _render(self, event: dict):
        """Payload for this event — subclasses override with their
        renderer; the base webhook posts the event verbatim."""
        return event

    def _send(self, payload) -> None:
        """Deliver a rendered payload — subclasses with a non-(url, payload)
        transport signature (email, SNS) override."""
        self.transport(self.url, payload)

    def run(self, event: dict) -> None:
        # one gate + failure-swallow for every action subclass: rendering
        # happens only when the gate passes, and neither rendering nor
        # delivery errors may fail the validation run (reference actions
        # catch-and-log the same way)
        success = event.get("success")
        if self.notify_on == "success" and success is not True:
            return
        if self.notify_on == "failure" and success is not False:
            return
        try:
            self._send(self._render(event))
        except Exception:
            pass  # notification failure must not fail the run


def render_slack_payload(event: dict) -> dict:
    """Slack Block-Kit payload for a checkpoint event — the observable shape
    of the reference's SlackRenderer.render
    (render/renderer/slack_renderer.py:19-140): one mrkdwn section block
    with status / suite / run-id / summary lines, an abbreviated root-level
    ``text`` (what Slack shows in the notification banner), a divider, and a
    context footer. Data-docs link blocks are out of scope (no data-docs
    surface in this engine)."""
    success = event.get("success")
    status = "Success :tada:" if success else "Failed :x:"
    suite = event.get("suite_name", "__no_expectation_suite_name__")
    run_id = event.get("run_id", "__no_run_id__")
    lines = [
        f"*Batch Validation Status*: {status}",
        f"*Expectation suite name*: `{suite}`",
        f"*Run ID*: `{run_id}`",
    ]
    if event.get("event_type") == "partition_validated":
        lines.append(
            f"*Partition*: `{json.dumps(event.get('partition'), default=str)}`"
        )
        stats = event.get("statistics") or {}
        n = stats.get("evaluated_expectations")
        if n is not None:
            lines.append(
                f"*Summary*: *{stats.get('successful_expectations')}* of "
                f"*{n}* expectations were met"
            )
    elif event.get("event_type") == "run_completed":
        if "partitions_run" in event:
            lines.append(
                f"*Summary*: {event.get('partitions_run', 0)} partitions run, "
                f"{event.get('partitions_skipped', 0)} skipped, "
                f"{event.get('partitions_failed', 0)} failed"
            )
        else:
            # single-run (non-checkpoint) completion: report the suite
            # statistics instead of a misleading '0 partitions' line
            stats = event.get("statistics") or {}
            n = stats.get("evaluated_expectations")
            if n is not None:
                lines.append(
                    f"*Summary*: *{stats.get('successful_expectations')}* of "
                    f"*{n}* expectations were met"
                )
    blocks = [
        {"type": "section", "text": {"type": "mrkdwn", "text": "\n".join(lines)}},
        {"type": "divider"},
        {
            "type": "context",
            "elements": [
                {
                    "type": "mrkdwn",
                    "text": f"great_expectations_spark checkpoint — suite `{suite}`",
                }
            ],
        },
    ]
    return {"blocks": blocks, "text": f"{suite}: {status}"}


class SlackNotificationAction(WebhookNotificationAction):
    """Reference SlackNotificationAction (checkpoint/actions.py:114-260):
    POSTs the SlackRenderer Block-Kit payload to a Slack webhook, gated by
    ``notify_on`` exactly like the reference (:229-233). Same injectable
    ``transport`` as WebhookNotificationAction; rendering happens only when
    the gate passes."""

    def _render(self, event: dict) -> dict:
        return render_slack_payload(event)


def render_email_message(event: dict) -> dict:
    """(subject, html) for a checkpoint event — the observable shape of the
    reference's EmailRenderer.render (render/renderer/email_renderer.py:
    14-63): subject '<suite>: <status emoji>' and an HTML body of
    <p><strong>k</strong>: v</p> lines with the n-of-m summary."""
    success = event.get("success")
    status = "Success 🎉" if success else "Failed ❌"
    suite = event.get("suite_name", "__no_expectation_suite_name__")
    run_id = event.get("run_id", "__no_run_id__")
    lines = [
        f"<p><strong>Batch Validation Status</strong>: {status}</p>",
        f"<p><strong>Expectation suite name</strong>: {suite}</p>",
        f"<p><strong>Run ID</strong>: {run_id}</p>",
    ]
    if event.get("event_type") == "partition_validated":
        lines.append(
            "<p><strong>Partition</strong>: "
            f"{json.dumps(event.get('partition'), default=str)}</p>"
        )
        stats = event.get("statistics") or {}
        n = stats.get("evaluated_expectations")
        if n is not None:
            lines.append(
                "<p><strong>Summary</strong>: "
                f"<strong>{stats.get('successful_expectations')}</strong> of "
                f"<strong>{n}</strong> expectations were met</p>"
            )
    elif event.get("event_type") == "run_completed":
        if "partitions_run" in event:
            lines.append(
                "<p><strong>Summary</strong>: "
                f"{event.get('partitions_run', 0)} partitions run, "
                f"{event.get('partitions_skipped', 0)} skipped, "
                f"{event.get('partitions_failed', 0)} failed</p>"
            )
        else:
            stats = event.get("statistics") or {}
            n = stats.get("evaluated_expectations")
            if n is not None:
                lines.append(
                    "<p><strong>Summary</strong>: "
                    f"<strong>{stats.get('successful_expectations')}</strong> of "
                    f"<strong>{n}</strong> expectations were met</p>"
                )
    return {"subject": f"{suite}: {status}", "html": "\n".join(lines)}


class EmailNotificationAction(WebhookNotificationAction):
    """Reference EmailAction (checkpoint/actions.py:262-430) minus SMTP:
    renders the EmailRenderer message and hands {subject, html, to} to the
    injectable ``transport`` (an SMTP sender in production, a recorder in
    tests — this container has no network, same reason the reference's
    smtplib path can't run here). Same notify_on gate as the reference."""

    def __init__(
        self,
        to: list[str],
        notify_on: str = "all",
        transport=None,
    ) -> None:
        if transport is None:
            raise ValueError(
                "EmailNotificationAction needs an explicit transport "
                "(an SMTP sender); there is no default network path"
            )
        super().__init__(url="", notify_on=notify_on, transport=transport)
        self.to = list(to)

    def _render(self, event: dict) -> dict:
        return dict(render_email_message(event), to=self.to)

    def _send(self, payload) -> None:
        self.transport(self.to, payload)


def render_pagerduty_event(event: dict, routing_key: str) -> dict:
    """PagerDuty Events-API-v2 enqueue body — the observable shape the
    reference builds through pypd (checkpoint/actions.py:336-349):
    routing_key, dedup_key = suite name, event_action 'trigger', and a
    payload with critical severity."""
    suite = event.get("suite_name", "__no_expectation_suite_name__")
    return {
        "routing_key": routing_key,
        "dedup_key": suite,
        "event_action": "trigger",
        "payload": {
            "summary": f"expectation suite check {suite} has failed",
            "severity": "critical",
            "source": "great_expectations_spark",
        },
    }


class PagerdutyAlertAction(WebhookNotificationAction):
    """Reference PagerdutyAlertAction (checkpoint/actions.py:252-350):
    triggers a PagerDuty Events-v2 event, default gate notify_on='failure'
    like the reference. POSTs directly to the public enqueue endpoint
    (the reference's pypd client does the same under the hood) via the
    injectable ``transport``."""

    DEFAULT_URL = "https://events.pagerduty.com/v2/enqueue"

    def __init__(
        self,
        routing_key: str,
        notify_on: str = "failure",
        url: str = DEFAULT_URL,
        transport=None,
    ) -> None:
        if not routing_key:
            raise ValueError("No Pagerduty routing_key found in action config.")
        super().__init__(url=url, notify_on=notify_on, transport=transport)
        self.routing_key = routing_key

    def _render(self, event: dict) -> dict:
        return render_pagerduty_event(event, self.routing_key)


def render_opsgenie_payload(
    event: dict, priority: str = "P3", tags: Optional[list] = None
) -> dict:
    """Opsgenie v2 alert body — the observable shape of the reference's
    OpsgenieRenderer.render + send_opsgenie_alert (checkpoint/util.py:62-76):
    message names the suite, description is the multi-line summary text,
    plus priority and tags."""
    success = event.get("success")
    status = "Success 🎉" if success else "Failed ❌"
    suite = event.get("suite_name", "__no_expectation_suite_name__")
    run_id = event.get("run_id", "__no_run_id__")
    lines = [
        f"Batch Validation Status: {status}",
        f"Expectation suite name: {suite}",
        f"Run ID: {run_id}",
    ]
    if event.get("event_type") == "partition_validated":
        lines.append(f"Partition: {json.dumps(event.get('partition'), default=str)}")
        stats = event.get("statistics") or {}
        n = stats.get("evaluated_expectations")
        if n is not None:
            lines.append(
                f"Summary: {stats.get('successful_expectations')} of {n} "
                "expectations were met"
            )
    return {
        "message": f"expectation suite {suite} {'succeeded' if success else 'failed'}",
        "description": "\n".join(lines),
        "priority": priority,
        "tags": list(tags or []),
    }


class OpsgenieAlertAction(WebhookNotificationAction):
    """Reference OpsgenieAlertAction (checkpoint/actions.py:471-588): posts
    an Opsgenie v2 alert, region-aware URL, GenieKey auth header, default
    gate notify_on='failure'. The default transport adds the Authorization
    header the reference sets in send_opsgenie_alert
    (checkpoint/util.py:69)."""

    def __init__(
        self,
        api_key: str,
        region: Optional[str] = None,
        priority: str = "P3",
        tags: Optional[list] = None,
        notify_on: str = "failure",
        transport=None,
    ) -> None:
        if not api_key:
            raise ValueError("No Opsgenie api_key found in action config.")
        url = (
            f"https://api.{region}.opsgenie.com/v2/alerts"
            if region
            else "https://api.opsgenie.com/v2/alerts"
        )
        if transport is None:
            transport = self._auth_post
        super().__init__(url=url, notify_on=notify_on, transport=transport)
        self.api_key = api_key
        self.priority = priority
        self.tags = list(tags or [])

    def _render(self, event: dict) -> dict:
        return render_opsgenie_payload(event, self.priority, self.tags)

    def _auth_post(self, url: str, payload: dict) -> None:
        import urllib.request

        req = urllib.request.Request(
            url,
            data=json.dumps(payload, default=str).encode("utf-8"),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"GenieKey {self.api_key}",
            },
        )
        urllib.request.urlopen(req, timeout=10).read()


def render_teams_payload(event: dict) -> dict:
    """Microsoft Teams AdaptiveCard message — the observable shape of the
    reference's MicrosoftTeamsRenderer.render
    (render/renderer/microsoft_teams_renderer.py:18-150): type 'message',
    one application/vnd.microsoft.card.adaptive attachment whose body is a
    'Validation results' header container plus one TextBlock per fact."""
    success = event.get("success")
    status = "Success !!!" if success else "Failed :("
    suite = event.get("suite_name", "__no_expectation_suite_name__")
    run_id = event.get("run_id", "__no_run_id__")
    facts = [
        ("Batch validation status", status),
        ("Expectation suite name", suite),
        ("Run id", str(run_id)),
    ]
    if event.get("event_type") == "partition_validated":
        stats = event.get("statistics") or {}
        n = stats.get("evaluated_expectations")
        if n is not None:
            facts.append(
                (
                    "Summary",
                    f"{stats.get('successful_expectations')} of {n} "
                    "expectations were met",
                )
            )
    body = [
        {
            "type": "Container",
            "height": "auto",
            "separator": "true",
            "items": [
                {
                    "type": "TextBlock",
                    "text": "Validation results",
                    "weight": "bolder",
                    "size": "large",
                    "wrap": "true",
                }
            ],
        }
    ] + [
        {
            "type": "Container",
            "height": "auto",
            "separator": "true",
            "items": [
                {
                    "type": "TextBlock",
                    "text": f"**{k}:** {v}",
                    "horizontalAlignment": "left",
                    "wrap": "true",
                }
            ],
        }
        for k, v in facts
    ]
    return {
        "type": "message",
        "attachments": [
            {
                "contentType": "application/vnd.microsoft.card.adaptive",
                "content": {
                    "$schema": "http://adaptivecards.io/schemas/adaptive-card.json",
                    "type": "AdaptiveCard",
                    "version": "1.0",
                    "body": body,
                    "actions": [],
                },
            }
        ],
    }


class MicrosoftTeamsNotificationAction(WebhookNotificationAction):
    """Reference MicrosoftTeamsNotificationAction
    (checkpoint/actions.py:351-469): POSTs the AdaptiveCard message to a
    Teams webhook, same notify_on gate."""

    def _render(self, event: dict) -> dict:
        return render_teams_payload(event)


def render_sns_message(event: dict, topic_arn: str, subject: Optional[str]) -> dict:
    """boto3 sns.publish kwargs — the observable shape of the reference's
    send_sns_notification (checkpoint/util.py:517-525): TopicArn, Subject
    (explicit, else suite name, else run id), JSON Message, the
    ValidationResults MessageAttributes marker, MessageStructure 'json'."""
    if subject is None:
        subject = event.get("suite_name") or str(event.get("run_id", ""))
    return {
        "TopicArn": topic_arn,
        "Subject": subject,
        "Message": json.dumps(event, default=str),
        "MessageAttributes": {
            "String": {"DataType": "String.Array", "StringValue": "ValidationResults"},
        },
        "MessageStructure": "json",
    }


class SNSNotificationAction(WebhookNotificationAction):
    """Reference SNSNotificationAction (checkpoint/actions.py:1147-1192):
    publishes each event to an SNS topic. The transport must be an SNS
    publisher (``lambda arn, publish_kwargs: ...`` wrapping
    boto3 sns.publish in production) — required explicitly, like
    EmailNotificationAction, because this engine carries no AWS client."""

    def __init__(
        self,
        sns_topic_arn: str,
        sns_message_subject: Optional[str] = None,
        notify_on: str = "all",
        transport=None,
    ) -> None:
        if transport is None:
            raise ValueError(
                "SNSNotificationAction needs an explicit transport "
                "(an sns.publish wrapper); there is no default AWS client"
            )
        super().__init__(url="", notify_on=notify_on, transport=transport)
        self.sns_topic_arn = sns_topic_arn
        self.sns_message_subject = sns_message_subject

    def _render(self, event: dict) -> dict:
        return render_sns_message(event, self.sns_topic_arn, self.sns_message_subject)

    def _send(self, payload) -> None:
        self.transport(self.sns_topic_arn, payload)


class CheckpointRunner:
    """Partition-wise validation with resume.

    Splits the batch by ``partition_by`` values (Iceberg partition pruning on
    a real table — each partition filter prunes to its files), validates each
    remaining partition, persists results + lineage per partition, and skips
    partitions already completed for the same (suite, input_fingerprint).
    Mirrors the reference's Checkpoint (checkpoint/checkpoint.py:94-221) with
    snapshot bookkeeping instead of an in-process store.

    ``actions``: objects with ``run(event: dict)`` (e.g.
    WebhookNotificationAction) invoked once per validated partition
    (event_type='partition_validated') and once at the end
    (event_type='run_completed') — the reference's checkpoint action_list.
    """

    def __init__(
        self, spark: SparkSession, store: ResultsStore, actions: Optional[list] = None
    ) -> None:
        self.spark = spark
        self.store = store
        self.actions = list(actions or [])

    def _notify(self, event: dict) -> None:
        fire_actions(self.actions, event)

    def _conjunction_rollup(
        self,
        run_id: str,
        suite_name: str,
        run_rows: list[tuple],
        src_runs: dict[str, str],
    ) -> list[tuple]:
        """Global (partition_key-NULL) rows merged driver-side from this
        run's partition rows plus, for resume-skipped partitions, the rows
        of ``src_runs`` (partition_key -> the run that completed it under
        the SAME (suite_id, input_fingerprint), from lineage) — so rows from
        a different dataset or an identically-named suite can never leak
        into the rollup. Bounded: #partitions × #expectations rows."""
        rows = list(run_rows)
        if src_runs:
            try:
                prior = self.store.read_results()
            except Exception:
                prior = None
            if prior is not None:
                cond = None
                for pk, rid in src_runs.items():
                    e = (F.col("partition_key") == pk) & (F.col("run_id") == rid)
                    cond = e if cond is None else (cond | e)
                latest = prior.filter(
                    (F.col("suite_name") == suite_name) & cond
                ).collect()
                rows.extend(tuple(r[f.name] for f in RESULTS_SCHEMA) for r in latest)
        merged: dict[tuple[str, str], dict] = {}
        for r in rows:
            (_, _, etype, ekwargs, _, success, elem, unexp, _, _, _, exc, _) = r
            key = (etype, ekwargs)
            m = merged.setdefault(
                key, {"success": True, "elem": 0, "unexp": 0, "have_counts": True}
            )
            m["success"] = m["success"] and bool(success) and exc is None
            if elem is None:
                m["have_counts"] = False
            else:
                m["elem"] += elem
                m["unexp"] += unexp or 0
        now = time.time()
        out = []
        for (etype, ekwargs), m in sorted(merged.items()):
            elem = m["elem"] if m["have_counts"] else None
            unexp = m["unexp"] if m["have_counts"] else None
            pct = (
                100.0 * unexp / elem
                if elem not in (None, 0) and unexp is not None
                else None
            )
            out.append(
                (
                    run_id, suite_name, etype, ekwargs, None, m["success"],
                    elem, unexp, pct, None, None, None, now,
                )
            )
        return out

    def run(
        self,
        df: DataFrame,
        suite,
        partition_by: list[str],
        input_fingerprint: str,
        result_format: Any = "BASIC",
        run_id: Optional[str] = None,
        fail_after: Optional[int] = None,  # test hook: die after N partitions
        global_rollup: Optional[str] = "conjunction",
        evaluation_parameters: Optional[dict] = None,
        persist: bool = False,
    ) -> dict[str, Any]:
        """``global_rollup`` controls the partition_key-NULL rows that URN
        chaining (``urn:great_expectations:validations:...`` via
        ResultsStoreUrnResolver) resolves against:

        - 'conjunction' (default, no extra scan): one global row per
          expectation, success = every partition passed, element/unexpected
          counts summed across this run's partitions AND the latest stored
          rows of resume-skipped partitions; observed_value is left null
          (per-partition statistics don't combine in general).
        - 'validate': one true global validation pass over the whole batch
          (real observed_value semantics), lineage-tracked as '__global__'
          so resume skips it like any completed partition.
        - None: no global rows (the pre-existing behavior).

        The returned dict reports the run's own outcome from the one
        lineage read that decides the skips: ``failed_expectations`` counts
        the failing EVR rows this invocation wrote (partition rows plus the
        'validate' rollup's global rows; conjunction rows only restate
        them), and ``skipped_failed`` names the resume-skipped keys
        ('__global__' included) whose stored verdict failed.
        """
        from great_expectations_spark.engine import SparkValidationEngine

        run_id = run_id or str(uuid.uuid4())
        engine = SparkValidationEngine(self.spark)
        done = self.store.latest_completed(suite.id, input_fingerprint)
        parts = [
            r.asDict()
            for r in df.select(*partition_by).distinct().orderBy(*partition_by).collect()
        ]
        ran, skipped, failed = [], [], []
        skipped_keys: list[str] = []
        run_rows: list[tuple] = []  # this run's partition EVR rows (rollup input)
        for pkey in parts:
            key_json = json.dumps(pkey, default=str)
            if key_json in done:
                skipped.append(pkey)
                skipped_keys.append(key_json)
                continue
            if fail_after is not None and len(ran) >= fail_after:
                raise RuntimeError(f"simulated failure after {fail_after} partitions")
            started = time.time()
            cond = None
            for c, v in pkey.items():
                # null-safe: a NULL partition-key value must select its rows,
                # not silently validate an empty frame
                e = F.col(c).eqNullSafe(F.lit(v))
                cond = e if cond is None else (cond & e)
            # NOTE: per-partition validation deliberately does NOT pass
            # metrics_store — the stored history rows used by auto=True
            # bootstrap bounds are GLOBAL (partition_key IS NULL), and a
            # whole-table range is the wrong bound for one partition slice.
            result = engine.validate(
                df.filter(cond), suite, result_format=result_format,
                evaluation_parameters=evaluation_parameters, persist=persist,
            )
            for evr in result.results:
                evr.partition = pkey
                result.partition_results.append(evr)
            result.results = []
            run_rows.extend(self.store.write_results(result, run_id))
            # the slice's metrics are this partition's, not the table's:
            # stored as global they would enter auto=True's history
            result.metrics = {"partitions": [(pkey, result.metrics.get("global", {}))]}
            self.store.write_metrics(result, run_id)
            self.store.write_lineage(
                run_id, suite.id, input_fingerprint, pkey, "completed", started,
                suite_success=bool(result.success),
            )
            ran.append(pkey)
            if not result.success:
                failed.append(pkey)
            self._notify(
                {
                    "event_type": "partition_validated",
                    "run_id": run_id,
                    "suite_name": suite.name,
                    "partition": pkey,
                    "success": bool(result.success),
                    "statistics": result.statistics,
                }
            )
        n_failed = _n_failing(run_rows)
        if global_rollup == "validate":
            if "__global__" in done:
                skipped_keys.append("__global__")
            else:
                started = time.time()
                gres = engine.validate(
                    df, suite, result_format=result_format,
                    metrics_store=self.store,
                    evaluation_parameters=evaluation_parameters,
                    persist=persist,
                )
                n_failed += _n_failing(self.store.write_results(gres, run_id))
                self.store.write_metrics(gres, run_id)
                self.store.write_lineage(
                    run_id, suite.id, input_fingerprint, None, "completed",
                    started, suite_success=bool(gres.success),
                )
        elif global_rollup == "conjunction" and (ran or skipped):
            grows = self._conjunction_rollup(
                run_id, suite.name, run_rows, {k: done[k][0] for k in skipped_keys}
            )
            if grows:
                gdf = self.spark.createDataFrame(grows, schema=RESULTS_SCHEMA)
                gdf.write.mode("append").parquet(
                    self.store._path("validation_results")
                )
        skipped_failed = [k for k in skipped_keys if done[k][1] is False]
        self._notify(
            {
                "event_type": "run_completed",
                "run_id": run_id,
                "suite_name": suite.name,
                "partitions_run": len(ran),
                "partitions_skipped": len(skipped),
                "partitions_failed": len(failed),
                "success": not (n_failed or skipped_failed),
            }
        )
        return {
            "run_id": run_id,
            "partitions_run": ran,
            "partitions_skipped": skipped,
            "partitions_failed": failed,
            "failed_expectations": n_failed,
            "skipped_failed": skipped_failed,
        }


def fire_actions(actions, event: dict) -> None:
    """Dispatch one event to every action, swallowing per-action failures —
    THE single encoding of the 'notification failure must not fail the run'
    guarantee (actions also swallow internally; this guards non-conforming
    user-supplied action objects too)."""
    for a in actions or []:
        try:
            a.run(event)
        except Exception:
            pass


# the instantiable action roster for config-driven checkpoints (reference:
# checkpoint action_list entries {"name": ..., "action": {"class_name": ...}})
ACTION_CLASSES = {
    "WebhookNotificationAction": WebhookNotificationAction,
    "SlackNotificationAction": SlackNotificationAction,
    "EmailNotificationAction": EmailNotificationAction,
    "PagerdutyAlertAction": PagerdutyAlertAction,
    "OpsgenieAlertAction": OpsgenieAlertAction,
    "MicrosoftTeamsNotificationAction": MicrosoftTeamsNotificationAction,
    "SNSNotificationAction": SNSNotificationAction,
}


def action_from_config(cfg: dict):
    """Instantiate a notification action from a config dict — either the
    bare ``{"class_name": ..., **kwargs}`` or the reference's action_list
    entry shape ``{"name": ..., "action": {"class_name": ..., **kwargs}}``
    (checkpoint/checkpoint.py action_list). Actions whose transport cannot
    default (email SMTP, SNS publish) raise their own explicit error."""
    if "action" in cfg and "class_name" not in cfg:
        cfg = cfg["action"]
    # strip the reference's structural keys, not just ours: real 0.15.x
    # action dicts carry module_name (and Slack entries renderer /
    # notify_with for data-docs sites, which this engine has no surface
    # for) — only behavioral kwargs reach the constructor
    structural = ("class_name", "name", "module_name", "renderer", "notify_with")
    kwargs = {k: v for k, v in cfg.items() if k not in structural}
    cls_name = cfg.get("class_name")
    if cls_name not in ACTION_CLASSES:
        raise ValueError(
            f"unknown action class_name {cls_name!r}; "
            f"known: {sorted(ACTION_CLASSES)}"
        )
    return ACTION_CLASSES[cls_name](**kwargs)
