"""Every Spark action in plans/planner.py must map to a named planner pass, so
a new or moved pass fails here instead of landing in an unattributed bucket.

    python -m pytest perfbench/test_attribution.py -q

Needs no Spark session: the action sites come from the planner's source.
"""

from __future__ import annotations

import ast
import inspect

from perfbench.tracing import ACTIONS, CALL_SITE_ACTIONS, PASS_OF_FUNCTION, PlannerPasses

# receivers whose .count() builds a DataFrame instead of running a job
_GROUPED = {"groupBy", "groupby", "rollup", "cube", "groupingSets"}


def _action_sites() -> list[tuple[str, int]]:
    """(action, line of the action's name) for each DataFrame action call in
    planner.py; the line is the one Python reports as the job's call site."""
    from great_expectations_spark.plans import planner

    sites = []
    for node in ast.walk(ast.parse(inspect.getsource(planner))):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        func = node.func
        if func.attr not in ACTIONS:
            continue
        receiver = func.value
        if isinstance(receiver, ast.Name) and receiver.id == "F":
            continue  # pyspark.sql.functions aggregate, e.g. F.count
        if (
            isinstance(receiver, ast.Call)
            and isinstance(receiver.func, ast.Attribute)
            and receiver.func.attr in _GROUPED
        ):
            continue
        sites.append((func.attr, func.end_lineno))
    return sites


def test_every_planner_action_maps_to_a_named_pass():
    passes = PlannerPasses()
    sites = _action_sites()
    assert sites, "no actions found in planner.py"
    for action, line in sites:
        fn = passes.function_at(line)
        assert fn in PASS_OF_FUNCTION, (
            f"{action} at planner.py:{line} is in {fn}, which maps to no planner pass"
        )
        assert action in CALL_SITE_ACTIONS, (
            f"{action} at planner.py:{line} names its jobs after a JVM frame, "
            "so they cannot be attributed to a pass"
        )


def test_job_call_sites_resolve_to_their_pass():
    passes = PlannerPasses()
    for action, line in _action_sites():
        site = f"{action} at {passes.path}:{line}"
        assert passes.pass_of_site(site) == PASS_OF_FUNCTION[passes.function_at(line)]
    assert passes.pass_of_site("parquet at NativeMethodAccessorImpl.java:0") is None
    assert passes.pass_of_site(f"collect at {passes.path}:1") == "other"


def test_every_named_pass_still_exists():
    """The isolated fallback is told apart by wrapping _run_isolated, and
    every mapped function must still be a SuitePlanner method."""
    from great_expectations_spark.plans.planner import SuitePlanner

    for name in list(PASS_OF_FUNCTION) + ["_run_isolated"]:
        assert inspect.isfunction(getattr(SuitePlanner, name, None)), name
