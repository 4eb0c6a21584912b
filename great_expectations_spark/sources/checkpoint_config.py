"""Single-document checkpoint configuration — the ops-handoff face of
CheckpointRunner.

One YAML/JSON file describes a whole recurring validation run: WHAT to read
(batch spec, optionally Iceberg-snapshot-pinned), WHICH suite, HOW to
partition, WHERE to persist results/metrics/lineage, the resume policy, the
global-rollup mode, and the notification action_list. This mirrors the
reference's checkpoint config surface (checkpoint/checkpoint.py:223-312:
template merge, runtime-kwargs override, ``$VAR`` config-variable
substitution; data_context/types/base.py CheckpointConfig fields), minus the
Cloud/data-context machinery — the document is a plain file, the template is
a sibling file.

Resolution order (reference get_substituted_config):
  1. ``template:`` file merged under the document (document keys win;
     action_list entries merge by ``name``),
  2. runtime overrides merged on top (CLI flags),
  3. ``$VAR`` / ``${VAR}`` environment substitution in every string value
     (``$$`` escapes a literal dollar).

The document is declarative glue — execution stays the engine's
CheckpointRunner path, so everything here is testable without Spark until
``run_checkpoint`` is called.
"""

from __future__ import annotations

import copy
import datetime as _dt
import os
import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Optional

_ALLOWED_KEYS = {
    "name", "config_version", "template", "run_name_template", "batch",
    "batches", "suite", "partition_by", "store", "resume", "result_format",
    "global_rollup", "persist", "evaluation_parameters", "action_list",
}

_BATCH_KEYS = {
    "path", "table", "reader_method", "reader_options", "schema",
    "snapshot_id", "as_of_timestamp",
}

# `batches:` — discover a batch LIST from a partitioned layout
# (sources/discovery.py) instead of naming one input: regex/Hive identifier
# extraction + sorters + data_connector_query, with reader pins applied to
# every discovered BatchSpec
_BATCHES_KEYS = {
    "base_path", "pattern", "group_names", "hive", "data_asset_name",
    "sorters", "data_connector_query",
    "reader_method", "reader_options", "schema",
}

# $VAR or ${VAR}; $$ is the literal-dollar escape (reference
# substitute_all_config_variables / DOLLAR_SIGN_ESCAPE_STRING). Variable
# names are IDENTIFIER-shaped (letter/underscore first) so data-looking
# dollars in suite kwargs ("$100" in a value_set) pass through untouched
_VAR_RE = re.compile(r"\$\{([A-Za-z_]\w*)\}|\$([A-Za-z_]\w*)")


def substitute_env_variables(
    data: Any, env: Optional[dict] = None, _top: bool = True
) -> Any:
    """Recursively replace ``$VAR``/``${VAR}`` in string values from ``env``
    (default ``os.environ``). Unknown variables raise — a checkpoint that
    silently keeps ``$SECRET_URL`` as a literal would post to the wrong
    place. ``$$`` escapes a literal dollar."""
    if env is None:
        env = dict(os.environ)
    if isinstance(data, dict):
        # the document's TOP-LEVEL inline suite is data, not config — its
        # expectation kwargs may legitimately contain $-strings (regexes,
        # value sets), and a suite loaded from a file path would not be
        # substituted either. The exemption applies only at the document
        # root: a nested key that happens to be named "suite" (inside an
        # action config, evaluation_parameters, ...) is ordinary config and
        # must substitute like everything else.
        return {
            k: v if _top and k == "suite" and isinstance(v, dict)
            else substitute_env_variables(v, env, _top=False)
            for k, v in data.items()
        }
    if isinstance(data, list):
        return [substitute_env_variables(v, env, _top=False) for v in data]
    if not isinstance(data, str):
        return data
    out: list[str] = []
    i = 0
    while i < len(data):
        if data.startswith("$$", i):
            out.append("$")
            i += 2
            continue
        m = _VAR_RE.match(data, i)
        if m:
            var = m.group(1) or m.group(2)
            if var not in env:
                raise KeyError(
                    f"checkpoint config references undefined variable ${var}"
                )
            out.append(str(env[var]))
            i = m.end()
        else:
            out.append(data[i])
            i += 1
    return "".join(out)


def _merge_template(doc: dict, template: dict) -> dict:
    """Document-over-template merge (reference substitute_template_config /
    nested_update): document keys win; nested dicts merge recursively;
    action_list entries merge by ``name`` (document entry replaces the
    template entry of the same name, new names append)."""
    out = copy.deepcopy(template)
    for k, v in doc.items():
        if k == "template":
            continue
        if k == "action_list":
            merged = {a.get("name"): a for a in out.get("action_list", [])}
            for a in v or []:
                merged[a.get("name")] = a
            out["action_list"] = list(merged.values())
        elif isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _nested_update(out[k], v)
        else:
            out[k] = v
    return out


def _nested_update(base: dict, override: dict) -> dict:
    """Recursive dict merge at EVERY depth (reference nested_update) — a
    one-level {**a, **b} would wholly replace second-level dicts like
    batch.reader_options, silently dropping template settings."""
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _nested_update(out[k], v)
        else:
            out[k] = v
    return out


@dataclass
class CheckpointConfig:
    """Validated, substituted checkpoint document."""

    name: str
    batch: dict[str, Any]
    suite: Any  # path string or inline suite dict
    batches: Optional[dict[str, Any]] = None  # discovery section
    config_version: float = 1.0
    run_name_template: Optional[str] = None
    partition_by: list[str] = field(default_factory=list)
    store: Optional[str] = None
    resume: bool = True
    result_format: str = "BASIC"
    global_rollup: Optional[str] = "conjunction"
    persist: bool = False
    evaluation_parameters: dict[str, Any] = field(default_factory=dict)
    action_list: list[dict] = field(default_factory=list)

    def run_id(self, now: Optional[_dt.datetime] = None) -> str:
        """run_name_template is strftime-formatted (reference
        run_name_template semantics); default is a uuid4."""
        if self.run_name_template:
            return (now or _dt.datetime.now(_dt.timezone.utc)).strftime(
                self.run_name_template
            )
        return str(uuid.uuid4())


def _load_file(path: str) -> dict:
    import json

    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        doc = yaml.safe_load(text)
    else:
        doc = json.loads(text)
    if not isinstance(doc, dict):
        raise ValueError(f"checkpoint config {path!r} must be a mapping")
    return doc


def load_checkpoint_config(
    source: str | dict,
    runtime_overrides: Optional[dict] = None,
    env: Optional[dict] = None,
) -> CheckpointConfig:
    """Load + template-merge + override + env-substitute a checkpoint
    document. ``source`` is a YAML/JSON file path or an already-parsed dict;
    ``runtime_overrides`` (CLI flags) win over the document, which wins over
    its ``template:``. Relative template paths resolve against the
    document's directory."""
    if isinstance(source, str):
        doc = _load_file(source)
        base_dir = os.path.dirname(os.path.abspath(source))
    else:
        doc = copy.deepcopy(source)
        base_dir = os.getcwd()

    if doc.get("template"):
        tpath = doc["template"]
        if not os.path.isabs(tpath):
            tpath = os.path.join(base_dir, tpath)
        template = _load_file(tpath)
        tver = template.get("config_version", 1.0)
        dver = doc.get("config_version", 1.0)
        if tver != dver:
            # reference checkpoint.py:258-262 — same-version templates only
            raise ValueError(
                f"template config_version {tver} != checkpoint config_version {dver}"
            )
        doc = _merge_template(doc, template)

    for k, v in (runtime_overrides or {}).items():
        if v is None:
            continue
        if k == "batch" and isinstance(v, dict) and isinstance(doc.get(k), dict):
            # a CLI --input override must not silently drop the document's
            # reader_method/reader_options/schema/snapshot pins — merge like
            # the template merge does. A path↔table redirect IS a different
            # input, so the opposite locator drops (both set would be
            # ambiguous and the old locator is certainly stale).
            merged = _nested_update(doc[k], v)
            if "path" in v and "path" not in doc[k]:
                merged.pop("table", None)
            if "table" in v and "table" not in doc[k]:
                merged.pop("path", None)
            doc[k] = merged
        else:
            doc[k] = v

    return checkpoint_config_from_doc(substitute_env_variables(doc, env))


def checkpoint_config_from_doc(doc: dict) -> CheckpointConfig:
    """Validate a resolved document — template merged, overrides applied,
    variables substituted — into a CheckpointConfig. The CLI's flag mode
    builds its config here directly, so flag values stay literal."""
    # validated AFTER template merge and runtime overrides: a typo'd key
    # arriving from either source must error, not be silently dropped
    unknown = set(doc) - _ALLOWED_KEYS
    if unknown:
        raise ValueError(f"unknown checkpoint config keys: {sorted(unknown)}")

    batch = doc.get("batch") or {}
    batches = doc.get("batches") or None
    bad_batch = set(batch) - _BATCH_KEYS
    if bad_batch:
        raise ValueError(f"unknown batch keys: {sorted(bad_batch)}")
    if batches is not None:
        bad = set(batches) - _BATCHES_KEYS
        if bad:
            raise ValueError(f"unknown batches keys: {sorted(bad)}")
        if batch:
            raise ValueError("specify batch OR batches, not both")
        if not batches.get("base_path"):
            raise ValueError("batches needs a base_path")
        if bool(batches.get("hive")) == bool(batches.get("pattern")):
            raise ValueError("batches needs exactly one of pattern / hive")
    elif not batch.get("path") and not batch.get("table"):
        raise ValueError("checkpoint config needs batch.path or batch.table")
    if not doc.get("suite"):
        raise ValueError("checkpoint config needs a suite (path or inline dict)")

    rollup = doc.get("global_rollup", "conjunction")
    if rollup in ("none", None):
        rollup = None
    elif rollup not in ("conjunction", "validate"):
        raise ValueError(f"unknown global_rollup: {rollup!r}")

    pb = doc.get("partition_by") or []
    if isinstance(pb, str):
        pb = [c.strip() for c in pb.split(",") if c.strip()]

    return CheckpointConfig(
        name=doc.get("name", "checkpoint"),
        config_version=float(doc.get("config_version", 1.0)),
        run_name_template=doc.get("run_name_template"),
        batch=dict(batch),
        batches=batches,
        suite=doc["suite"],
        partition_by=list(pb),
        store=doc.get("store"),
        resume=bool(doc.get("resume", True)),
        result_format=doc.get("result_format", "BASIC"),
        global_rollup=rollup,
        persist=bool(doc.get("persist", False)),
        evaluation_parameters=dict(doc.get("evaluation_parameters") or {}),
        action_list=list(doc.get("action_list") or []),
    )


def resolve_suite(cfg: CheckpointConfig):
    """suite path → ExpectationSuite.from_json file; inline dict →
    from_dict (accepts both this engine's shape and the reference's
    expectation_suite_name/expectations shape)."""
    from great_expectations_spark.core.config import ExpectationSuite

    if isinstance(cfg.suite, str):
        with open(cfg.suite) as f:
            return ExpectationSuite.from_json(f.read())
    return ExpectationSuite.from_dict(cfg.suite)


def run_checkpoint(
    spark,
    cfg: CheckpointConfig,
    run_id: Optional[str] = None,
) -> dict:
    """Execute a checkpoint end-to-end — the one execution path of the
    ``scripts/run_validation.py`` CLI, documents and flags alike: load the
    batch, build the actions, run CheckpointRunner (partitioned + store) or
    a plain engine validate, and return the CLI's JSON summary.

    ``resume: false`` salts the lineage fingerprint with a per-invocation
    nonce so every partition revalidates; ``resume: true`` (default) skips
    partitions whose (suite, batch fingerprint) lineage row is already
    completed."""
    from great_expectations_spark.engine import SparkValidationEngine
    from great_expectations_spark.sources.batch import BatchSpec, load_batch
    from great_expectations_spark.sources.stores import (
        CheckpointRunner,
        ResultsStore,
        action_from_config,
        fire_actions,
    )

    if cfg.batches:
        return _run_discovered_batches(spark, cfg, run_id)

    suite = resolve_suite(cfg)
    spec = BatchSpec(**cfg.batch)
    df = load_batch(spark, spec)
    rid = run_id or cfg.run_id()
    actions = [action_from_config(a) for a in cfg.action_list]

    if cfg.store and cfg.partition_by:
        # resume:false must salt with a PER-INVOCATION nonce, not the run_id:
        # a coarse run_name_template (e.g. '%Y%m%d-nightly') repeats within
        # a day, and a repeated salt would match the earlier run's lineage
        # rows and silently skip every partition despite resume being off
        fingerprint = (
            spec.batch_id if cfg.resume else f"{spec.batch_id}-{uuid.uuid4()}"
        )
        if cfg.evaluation_parameters:
            # the suite id hashes UNsubstituted $PARAMETER placeholders, so
            # without this salt a re-run with CHANGED parameter values would
            # match the old lineage rows and skip every partition, reporting
            # stale verdicts for bounds that no longer hold
            from great_expectations_spark.core.config import deterministic_id

            fingerprint += f"+params:{deterministic_id(cfg.evaluation_parameters)}"
        out = CheckpointRunner(spark, ResultsStore(spark, cfg.store), actions).run(
            df,
            suite,
            partition_by=cfg.partition_by,
            input_fingerprint=fingerprint,
            result_format=cfg.result_format,
            run_id=rid,
            global_rollup=cfg.global_rollup,
            evaluation_parameters=cfg.evaluation_parameters or None,
            persist=cfg.persist,
        )
        # a resume-skipped partition (or '__global__' pass) whose stored
        # verdict failed still fails the run: a re-run after a failed run
        # must not exit 0
        return {
            "checkpoint": cfg.name,
            "run_id": rid,
            "partitions_run": len(out["partitions_run"]),
            "partitions_skipped": len(out["partitions_skipped"]),
            "failed_expectations": out["failed_expectations"],
            "skipped_partitions_with_failures": len(out["skipped_failed"]),
            "success": not (out["failed_expectations"] or out["skipped_failed"]),
        }

    result = SparkValidationEngine(spark).validate(
        df,
        suite,
        result_format=cfg.result_format,
        partition_by=cfg.partition_by or None,
        persist=cfg.persist,
        evaluation_parameters=cfg.evaluation_parameters or None,
    )
    if cfg.store:
        store = ResultsStore(spark, cfg.store)
        store.write_results(result, rid)
        store.write_metrics(result, rid)
    # one run, no partitions: the event carries the suite statistics, which
    # the renderers turn into their n-of-m expectations line
    fire_actions(
        actions,
        {
            "event_type": "run_completed",
            "run_id": rid,
            "suite_name": suite.name,
            "success": bool(result.success),
            "statistics": result.statistics,
        },
    )
    return {
        "checkpoint": cfg.name,
        "run_id": rid,
        "success": bool(result.success),
        "statistics": result.statistics,
    }


def _run_discovered_batches(
    spark, cfg: CheckpointConfig, run_id: Optional[str] = None
) -> dict:
    """``batches:`` mode — discovery (sources/discovery.py) enumerates the
    layout into an ordered batch list; each discovered batch then runs the
    FULL single-batch checkpoint path (same suite, store, partitioning,
    rollup). Resume is per batch for free: every BatchSpec carries its own
    lineage fingerprint, so a re-run skips batches (and partitions within
    them) already completed. The summary aggregates per-batch outcomes;
    success requires every batch to succeed."""
    from dataclasses import replace

    from great_expectations_spark.sources.discovery import discover_batches

    sec = dict(cfg.batches)
    passthrough = {
        k: sec[k]
        for k in ("reader_method", "reader_options", "schema")
        if sec.get(k) is not None
    }
    defs = discover_batches(
        sec["base_path"],
        sec.get("pattern"),
        sec.get("group_names"),
        hive=bool(sec.get("hive")),
        data_asset_name=sec.get("data_asset_name"),
        spark=spark,
        sorters=sec.get("sorters"),
        data_connector_query=sec.get("data_connector_query"),
    )
    if not defs:
        raise ValueError(
            f"batches discovery matched nothing under {sec['base_path']!r}"
        )
    rid = run_id or cfg.run_id()
    per_batch: list[dict] = []
    ok = True
    for bd in defs:
        ident = (
            "/".join(
                f"{k}={v}" for k, v in sorted(bd.batch_identifiers.items())
            )
            or bd.data_asset_name
        )
        spec = bd.to_batch_spec(**passthrough)
        sub = replace(
            cfg,
            batches=None,
            name=f"{cfg.name}[{ident}]",
            batch={
                k: v
                for k, v in (
                    ("path", spec.path),
                    ("reader_method", spec.reader_method),
                    ("reader_options", spec.reader_options),
                    ("schema", spec.schema),
                )
                if v
            },
        )
        out = run_checkpoint(spark, sub, run_id=f"{rid}::{ident}")
        ok = ok and bool(out.get("success"))
        per_batch.append(
            {"batch_identifiers": dict(bd.batch_identifiers), **out}
        )
    return {
        "checkpoint": cfg.name,
        "run_id": rid,
        "batches_discovered": len(defs),
        "batch_results": per_batch,
        "success": ok,
    }
