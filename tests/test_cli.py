"""scripts/run_validation.py — the spark-submit deployment entry point."""

import json
import subprocess
import sys

REPO = "/root/repo"


def _run(args):
    return subprocess.run(
        [sys.executable, f"{REPO}/scripts/run_validation.py", *args],
        capture_output=True,
        text=True,
        timeout=300,
    )


def _suite_file(tmp_path, passing: bool):
    suite = {
        "name": "cli",
        "expectations": [
            {
                "expectation_type": "expect_column_values_to_be_between",
                "kwargs": {
                    "column": "l_quantity",
                    "min_value": 1,
                    "max_value": 50 if passing else 10,
                },
            }
        ],
    }
    p = tmp_path / ("pass.json" if passing else "fail.json")
    p.write_text(json.dumps(suite))
    return str(p)


def test_cli_simple_pass_and_fail(tmp_path):
    out = _run(
        ["--input", "/root/testdata/sf0.001/lineitem.parquet",
         "--suite", _suite_file(tmp_path, True)]
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload["success"] is True

    out2 = _run(
        ["--input", "/root/testdata/sf0.001/lineitem.parquet",
         "--suite", _suite_file(tmp_path, False)]
    )
    assert out2.returncode == 1
    payload2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert payload2["success"] is False


def test_cli_checkpoint_resume(tmp_path):
    store = str(tmp_path / "store")
    args = [
        "--input", "/root/testdata/sf0.001/lineitem.parquet",
        "--suite", _suite_file(tmp_path, True),
        "--partition-by", "l_returnflag",
        "--store", store,
        "--run-id", "cli-run-1",
    ]
    out = _run(args)
    assert out.returncode == 0, out.stderr[-2000:]
    p1 = json.loads(out.stdout.strip().splitlines()[-1])
    assert p1["partitions_run"] == 3 and p1["partitions_skipped"] == 0

    out2 = _run([*args[:-2], "--run-id", "cli-run-2"])
    assert out2.returncode == 0, out2.stderr[-2000:]
    p2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert p2["partitions_run"] == 0 and p2["partitions_skipped"] == 3


def test_cli_resume_exit_code_counts_skipped_failures(tmp_path):
    """A failing run's re-run skips completed partitions but must still
    exit 1 — the stored verdicts count (documented contract: exit 0 iff
    suite passed)."""
    store = str(tmp_path / "store2")
    args = [
        "--input", "/root/testdata/sf0.001/lineitem.parquet",
        "--suite", _suite_file(tmp_path, False),
        "--partition-by", "l_returnflag",
        "--store", store,
        "--run-id", "fail-run-1",
    ]
    out = _run(args)
    assert out.returncode == 1, out.stderr[-2000:]

    out2 = _run([*args[:-2], "--run-id", "fail-run-2"])
    p2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert p2["partitions_run"] == 0 and p2["partitions_skipped"] == 3
    assert p2["skipped_partitions_with_failures"] == 3
    assert out2.returncode == 1, "re-run must not mask stored failures"


def test_cli_clean_corpus(tmp_path):
    out_path = str(tmp_path / "cleaned.parquet")
    r = subprocess.run(
        [
            sys.executable, f"{REPO}/scripts/clean_corpus.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out_path,
            "--min-quality", "0.2", "--min-tokens", "3",
            "--scrub-pii", "--dedup", "exact",
            "--pack-max-tokens", "256",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["stages"][:2] == ["quality", "pii_scrub"]
    assert 0 < summary["output_rows"] <= summary["input_rows"]
    assert summary["stage_counts"]["quality"] >= summary["output_rows"]
    assert summary["packs_output"].endswith("_packs.parquet")


def test_cli_actions_config(tmp_path):
    actions = tmp_path / "actions.json"
    actions.write_text(json.dumps([
        {"name": "hook", "action": {
            "class_name": "WebhookNotificationAction",
            "module_name": "great_expectations.checkpoint",
            "url": "https://h.invalid", "notify_on": "all"}}
    ]))
    out = _run([
        "--input", "/root/testdata/sf0.001/lineitem.parquet",
        "--suite", _suite_file(tmp_path, passing=True),
        "--actions", str(actions),
    ])
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["success"] is True


def test_cli_checkpoint_config_document(tmp_path):
    """One YAML document drives the whole run (reference checkpoint.yml
    shape): template merge, $VAR env substitution, partitioned store run,
    then resume on re-run."""
    import os

    (tmp_path / "base.yaml").write_text(
        "config_version: 1.0\n"
        "result_format: SUMMARY\n"
        "action_list:\n"
        "  - name: hook\n"
        "    action:\n"
        "      class_name: WebhookNotificationAction\n"
        "      url: https://h.invalid\n"
        "      notify_on: all\n"
    )
    ckpt = tmp_path / "ckpt.yaml"
    ckpt.write_text(
        "name: nightly\n"
        "config_version: 1.0\n"
        "template: base.yaml\n"
        'run_name_template: "nightly-%Y%m%d"\n'
        "batch:\n"
        "  path: $GES_DATA_DIR/lineitem.parquet\n"
        f"suite: {_suite_file(tmp_path, True)}\n"
        "partition_by: [l_returnflag]\n"
        f"store: {tmp_path / 'ckstore'}\n"
        "resume: true\n"
    )
    env = {**os.environ, "GES_DATA_DIR": "/root/testdata/sf0.001"}

    out = subprocess.run(
        [sys.executable, f"{REPO}/scripts/run_validation.py",
         "--checkpoint", str(ckpt), "--run-id", "r1"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    p1 = json.loads(out.stdout.strip().splitlines()[-1])
    assert p1["checkpoint"] == "nightly"
    assert p1["partitions_run"] == 3 and p1["partitions_skipped"] == 0

    out2 = subprocess.run(
        [sys.executable, f"{REPO}/scripts/run_validation.py",
         "--checkpoint", str(ckpt), "--run-id", "r2"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    p2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert p2["partitions_run"] == 0 and p2["partitions_skipped"] == 3


def test_checkpoint_config_loading_rules(tmp_path):
    """Pure-Python document semantics: env substitution (incl. $$ escape and
    undefined-variable error), template version pinning, action_list merge by
    name, runtime overrides, unknown-key rejection, run_name_template."""
    import datetime

    import pytest

    from great_expectations_spark.sources.checkpoint_config import (
        load_checkpoint_config,
        substitute_env_variables,
    )

    env = {"HOST": "example.com"}
    assert substitute_env_variables("https://$HOST/x", env) == "https://example.com/x"
    assert substitute_env_variables("${HOST}:8080", env) == "example.com:8080"
    assert substitute_env_variables("cost $$5", env) == "cost $5"
    with pytest.raises(KeyError, match="NOPE"):
        substitute_env_variables("$NOPE", env)

    base = {
        "name": "doc",
        "batch": {"path": "/tmp/x.parquet"},
        "suite": {"name": "s", "expectations": []},
    }
    cfg = load_checkpoint_config(base, env=env)
    assert cfg.resume is True and cfg.global_rollup == "conjunction"

    # runtime overrides win over the document
    cfg2 = load_checkpoint_config(
        base, runtime_overrides={"resume": False, "partition_by": ["fmt"]}, env=env
    )
    assert cfg2.resume is False and cfg2.partition_by == ["fmt"]

    # a runtime batch override merges (keeps the document's reader pins);
    # redirecting path->table (or back) drops the stale locator
    pinned = {
        **base,
        "batch": {
            "path": "/tmp/x.parquet",
            "reader_method": "parquet",
            "reader_options": {"mergeSchema": "true"},
        },
    }
    cfg_m = load_checkpoint_config(
        pinned, runtime_overrides={"batch": {"path": "/tmp/y.parquet"}}, env=env
    )
    assert cfg_m.batch["path"] == "/tmp/y.parquet"
    assert cfg_m.batch["reader_method"] == "parquet"
    assert cfg_m.batch["reader_options"] == {"mergeSchema": "true"}
    cfg_t = load_checkpoint_config(
        {**base, "batch": {"table": "cat.db.t", "snapshot_id": 5}},
        runtime_overrides={"batch": {"path": "/tmp/z.parquet"}},
        env=env,
    )
    assert cfg_t.batch.get("table") is None and cfg_t.batch["path"] == "/tmp/z.parquet"

    # env substitution: ONLY the top-level inline suite is exempt; a nested
    # key that happens to be named "suite" is ordinary config
    nested = substitute_env_variables(
        {
            "suite": {"kwargs": {"regex": "$HOST"}},
            "action_list": [{"suite": {"url": "$HOST"}}],
        },
        env,
    )
    assert nested["suite"]["kwargs"]["regex"] == "$HOST"
    assert nested["action_list"][0]["suite"]["url"] == "example.com"

    with pytest.raises(ValueError, match="unknown checkpoint config keys"):
        load_checkpoint_config({**base, "nope": 1}, env=env)
    with pytest.raises(ValueError, match="batch.path or batch.table"):
        load_checkpoint_config({"name": "d", "suite": "s.json", "batch": {}}, env=env)
    with pytest.raises(ValueError, match="unknown global_rollup"):
        load_checkpoint_config({**base, "global_rollup": "huh"}, env=env)

    # template: same-version pin + action_list merge by name
    (tmp_path / "t.json").write_text(json.dumps({
        "config_version": 1.0,
        "result_format": "SUMMARY",
        "action_list": [
            {"name": "a", "action": {"class_name": "X"}},
            {"name": "b", "action": {"class_name": "Y"}},
        ],
    }))
    doc = tmp_path / "c.json"
    doc.write_text(json.dumps({
        **base,
        "template": "t.json",
        "action_list": [{"name": "b", "action": {"class_name": "Z"}}],
    }))
    cfg3 = load_checkpoint_config(str(doc), env=env)
    assert cfg3.result_format == "SUMMARY"
    by_name = {a["name"]: a["action"]["class_name"] for a in cfg3.action_list}
    assert by_name == {"a": "X", "b": "Z"}

    (tmp_path / "t2.json").write_text(json.dumps({"config_version": 2.0}))
    doc2 = tmp_path / "c2.json"
    doc2.write_text(json.dumps({**base, "template": "t2.json"}))
    with pytest.raises(ValueError, match="config_version"):
        load_checkpoint_config(str(doc2), env=env)

    # run_name_template is strftime-formatted
    cfg4 = load_checkpoint_config({**base, "run_name_template": "run-%Y%m%d"}, env=env)
    assert cfg4.run_id(datetime.datetime(2026, 8, 18)) == "run-20260818"

    # unknown keys arriving FROM the template or runtime overrides error
    # too — validation runs on the fully merged document
    (tmp_path / "t3.json").write_text(
        json.dumps({"config_version": 1.0, "partition_key": ["dt"]})
    )
    doc3 = tmp_path / "c3.json"
    doc3.write_text(json.dumps({**base, "template": "t3.json"}))
    with pytest.raises(ValueError, match="unknown checkpoint config keys"):
        load_checkpoint_config(str(doc3), env=env)
    with pytest.raises(ValueError, match="unknown checkpoint config keys"):
        load_checkpoint_config(
            base, runtime_overrides={"partiton_by": ["x"]}, env=env
        )

    # a comma-separated partition_by string strips whitespace
    cfg5 = load_checkpoint_config({**base, "partition_by": "date, region"}, env=env)
    assert cfg5.partition_by == ["date", "region"]


def test_run_checkpoint_summary_scoping_and_noresume_nonce(spark, tmp_path):
    """Two summary-accounting contracts: (1) skipped_partitions_with_failures
    counts only partitions actually resume-SKIPPED this run — a partition
    that ran and failed THIS run is reported once, in failed_expectations;
    (2) resume:false revalidates every partition even when a coarse
    run_name_template yields the same run_id as an earlier run (the lineage
    fingerprint is salted with a per-invocation nonce, not the run_id)."""
    from great_expectations_spark.sources.checkpoint_config import (
        load_checkpoint_config,
        run_checkpoint,
    )

    data = str(tmp_path / "data.parquet")
    df1 = spark.createDataFrame([(1, "A"), (2, "A")], "v int, g string")
    df1.write.mode("overwrite").parquet(data)
    doc = {
        "name": "ck",
        "batch": {"path": data},
        "suite": {
            "name": "s",
            "expectations": [
                {
                    "expectation_type": "expect_column_values_to_be_between",
                    "kwargs": {"column": "v", "min_value": 0, "max_value": 10},
                }
            ],
        },
        "partition_by": ["g"],
        "store": str(tmp_path / "store"),
    }
    cfg = load_checkpoint_config(doc, env={})
    s1 = run_checkpoint(spark, cfg, run_id="r1")
    assert s1["success"] is True and s1["partitions_run"] == 1

    # a NEW failing partition appears; the re-run resume-skips A, runs B
    df1.unionByName(
        spark.createDataFrame([(99, "B")], "v int, g string")
    ).write.mode("overwrite").parquet(data)
    s2 = run_checkpoint(spark, cfg, run_id="r2")
    assert s2["partitions_skipped"] == 1 and s2["partitions_run"] == 1
    assert s2["failed_expectations"] >= 1
    # B failed THIS run — it is not a "skipped partition with failures"
    assert s2["skipped_partitions_with_failures"] == 0
    assert s2["success"] is False

    # resume:false + a day-granular run_name_template: both invocations
    # derive the same run_id, yet NOTHING may be skipped
    cfg_nr = load_checkpoint_config(
        {
            **doc,
            "store": str(tmp_path / "store_nr"),
            "resume": False,
            "run_name_template": "nightly-%Y%m%d",
        },
        env={},
    )
    a = run_checkpoint(spark, cfg_nr)
    b = run_checkpoint(spark, cfg_nr)
    for out in (a, b):
        assert out["partitions_run"] == 2 and out["partitions_skipped"] == 0


def test_cli_profile_suite_onboarding_and_rule_config(tmp_path):
    """scripts/profile_suite.py multi-batch modes: --onboarding bootstraps a
    suite from a mod-split batch history; --rule-config runs a
    reference-shaped declarative profiler config over the same split."""
    out_path = tmp_path / "onboard.json"
    r = subprocess.run(
        [
            sys.executable, f"{REPO}/scripts/profile_suite.py",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", str(out_path), "--name", "onboard",
            "--onboarding", "--split-column", "o_orderkey",
            "--num-batches", "3", "--estimator", "exact",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["suite"] == "onboard" and summary["expectations"] > 10
    suite = json.loads(out_path.read_text())
    types = {c["expectation_type"] for c in suite["expectations"]}
    assert "expect_table_row_count_to_be_between" in types
    assert "expect_column_values_to_be_unique" in types
    uniq_cols = [
        c["kwargs"]["column"] for c in suite["expectations"]
        if c["expectation_type"] == "expect_column_values_to_be_unique"
    ]
    assert "o_orderkey" in uniq_cols

    cfg = tmp_path / "rbp.json"
    cfg.write_text(json.dumps({
        "name": "cli_rbp",
        "rules": {
            "rc": {
                "domain_builder": {"class_name": "TableDomainBuilder"},
                "parameter_builders": [{
                    "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                    "name": "rc", "metric_name": "table.row_count",
                    "estimator": "exact",
                }],
                "expectation_configuration_builders": [{
                    "expectation_type": "expect_table_row_count_to_be_between",
                    "min_value": "$parameter.rc.value[0]",
                    "max_value": "$parameter.rc.value[1]",
                }],
            }
        },
    }))
    out2_path = tmp_path / "rbp_suite.json"
    r2 = subprocess.run(
        [
            sys.executable, f"{REPO}/scripts/profile_suite.py",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", str(out2_path), "--name", "rbp",
            "--rule-config", str(cfg),
            "--split-column", "o_orderkey", "--num-batches", "2",
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    suite2 = json.loads(out2_path.read_text())
    (cfg_row,) = suite2["expectations"]
    assert cfg_row["expectation_type"] == "expect_table_row_count_to_be_between"
    assert cfg_row["kwargs"]["min_value"] <= cfg_row["kwargs"]["max_value"]
    # the two mod-batches partition the 150-row table
    assert cfg_row["kwargs"]["min_value"] + cfg_row["kwargs"]["max_value"] >= 100


def test_cli_profile_suite_discovery(spark, tmp_path):
    """--discover-hive turns a partitioned layout root into the onboarding
    assistant's batch list: sorted by the --discover-sort keys, filtered to
    the --discover-index most recent — the 'profile the last N partitions
    of s3://...' idiom end-to-end through the CLI."""
    base = str(tmp_path / "lay" / "events")
    rows = []
    for b, (y, m) in enumerate([(2023, 12), (2024, 1), (2024, 2)]):
        rows += [(y, m, b * 100 + i, float(10 * b + i % 7)) for i in range(40)]
    spark.createDataFrame(
        rows, "year int, month int, id long, score double"
    ).repartition(2).write.partitionBy("year", "month").parquet(base)

    out_path = tmp_path / "disc.json"
    r = subprocess.run(
        [
            sys.executable, f"{REPO}/scripts/profile_suite.py",
            "--input", base, "--output", str(out_path), "--name", "disc",
            "--onboarding", "--estimator", "exact",
            "--discover-hive",
            "--discover-sort", "year:numeric,month:numeric",
            "--discover-index=-2:",  # '=' form: argparse reads bare '-2:' as a flag
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "discovered 2 batches" in r.stdout, r.stdout
    suite = json.loads(out_path.read_text())
    types = {c["expectation_type"] for c in suite["expectations"]}
    assert "expect_column_values_to_be_unique" in types
    # exact estimator over the two 2024 batches only: the score range
    # floor is batch-2024-01's min (10), not 2023-12's (0)
    mins = [
        c["kwargs"]["min_value"] for c in suite["expectations"]
        if c["expectation_type"] == "expect_column_min_to_be_between"
        and c["kwargs"]["column"] == "score"
    ]
    assert mins == [10.0], mins

    # discovery without a multi-batch mode is a usage error
    r2 = subprocess.run(
        [
            sys.executable, f"{REPO}/scripts/profile_suite.py",
            "--input", base, "--output", str(out_path), "--discover-hive",
        ],
        capture_output=True, text=True, timeout=120,
    )
    assert r2.returncode != 0 and "multi-batch mode" in r2.stderr


def _cli_main():
    """scripts/run_validation.py's main(), loaded in-process: its
    getOrCreate() returns the session fixture, so no new Spark starts."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_validation", f"{REPO}/scripts/run_validation.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def _row_count_bound_suite(spark, tmp_path):
    """A table row-count bound every l_returnflag partition passes but the
    whole table fails."""
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    biggest = df.groupBy("l_returnflag").count().agg(F.max("count")).collect()[0][0]
    bound = (biggest + df.count()) // 2
    p = tmp_path / "rowcount.json"
    p.write_text(json.dumps({
        "name": "rowcount",
        "expectations": [{
            "expectation_type": "expect_table_row_count_to_be_between",
            "kwargs": {"min_value": 0, "max_value": int(bound)},
        }],
    }))
    return str(p)


def _main_json(main, argv, capsys):
    code = main(argv)
    return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_flag_mode_validate_rollup_global_failure(spark, tmp_path, capsys):
    """Flag mode runs the same checkpoint as a document: a whole-table
    failure of the 'validate' rollup fails the run although every partition
    passes."""
    code, out = _main_json(_cli_main(), [
        "--input", "/root/testdata/sf0.001/lineitem.parquet",
        "--suite", _row_count_bound_suite(spark, tmp_path),
        "--partition-by", "l_returnflag",
        "--store", str(tmp_path / "store"),
        "--global-rollup", "validate",
    ], capsys)
    assert out["partitions_run"] == 3
    assert out["failed_expectations"] == 1
    assert code == 1


def test_cli_no_resume_twice_same_run_id_revalidates(spark, tmp_path, capsys):
    """--no-resume salts the lineage fingerprint with a per-invocation
    nonce: a repeated --run-id must not make the second run skip, nor count
    the first attempt's stored rows."""
    main = _cli_main()
    argv = [
        "--input", "/root/testdata/sf0.001/lineitem.parquet",
        "--suite", _suite_file(tmp_path, False),
        "--partition-by", "l_returnflag",
        "--store", str(tmp_path / "store"),
        "--run-id", "same", "--no-resume",
    ]
    _, first = _main_json(main, argv, capsys)
    code, second = _main_json(main, argv, capsys)
    assert first["partitions_run"] == 3
    assert second["partitions_run"] == 3 and second["partitions_skipped"] == 0
    assert second["failed_expectations"] == first["failed_expectations"] == 3
    assert code == 1


def test_cli_checkpoint_document_takes_flag_overrides(spark, tmp_path, capsys):
    """With --checkpoint, every flag given overrides the document: here
    --global-rollup none, so no partition_key-NULL rows are written."""
    from pyspark.sql import functions as F

    from great_expectations_spark.sources.stores import ResultsStore

    store = tmp_path / "store"
    ckpt = tmp_path / "ckpt.json"
    ckpt.write_text(json.dumps({
        "name": "doc",
        "batch": {"path": "/root/testdata/sf0.001/lineitem.parquet"},
        "suite": _suite_file(tmp_path, True),
        "partition_by": ["l_returnflag"],
        "store": str(store),
        "global_rollup": "conjunction",
    }))
    code, out = _main_json(
        _cli_main(), ["--checkpoint", str(ckpt), "--global-rollup", "none"], capsys
    )
    assert code == 0 and out["checkpoint"] == "doc" and out["partitions_run"] == 3
    rows = ResultsStore(spark, str(store)).read_results()
    assert rows.filter(F.col("partition_key").isNull()).count() == 0
    assert rows.count() == 3
