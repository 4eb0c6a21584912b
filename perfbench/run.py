"""Benchmark entry point.

    python3 perfbench/run.py --workload suite_wide --seed 1 --seconds 16 --trace 0

Run from the repository root. One process starts a ``local[<nproc>]`` Spark
session, builds the workload's inputs from ``--seed``, makes a first call and
warm-up calls, and runs the workload as a closed loop with one client for
``--seconds`` seconds, checking every output. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end metrics
when ``--trace 0`` and the per-layer metrics when ``--trace 1``. The line
before it is the host record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

PC0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "great_expectations_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("suite_wide", "images_arrow")
# untimed calls after set-up's first call, so the JIT reaches steady state
# before the timed loop
WARMUP_CALLS = 2
# calls a timed loop makes even when --seconds has passed, for a median
MIN_CALLS = 3
# the traced loop alternates traced and untraced calls: at least 3 pairs
TRACED_MIN_CALLS = 6
# above this much hypervisor steal over the timed loop (cores' worth of CPU
# taken by other guests per wall second) the wall-time metrics spread past
# their bounds, so such a run is not comparable and is not reported correct
STEAL_LIMIT_CORES = 0.5
# bench.py pins 16g; on a 4-core host shared with other jobs the benchmark
# pins 3g, which every workload here fits in
DRIVER_MEMORY = "3g"


def process_age_s() -> float:
    """Seconds since this process started: boot time plus the process start
    time, both from /proc."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return time.time() - (btime + start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_PC0 = process_age_s() - (time.perf_counter() - PC0)


def age_now() -> float:
    return AGE_AT_PC0 + (time.perf_counter() - PC0)


def session_config(cores: int, work: str) -> dict[str, str]:
    """bench.py's make_spark settings at local[cores], plus paths that keep
    every scratch file inside the run's work directory."""
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap keeps the JVM's RSS, and its GC work, from depending
        # on when G1 decides to grow the heap. C2 without tiered compilation:
        # with tiering, compiler threads still take 1-5 CPU seconds per
        # suite_wide call after a dozen calls, and executor CPU per call
        # differs up to twofold between sessions (see perfbench/README.md)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-TieredCompilation "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }


def start_spark(config: dict[str, str], work: str):
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package from this checkout and keep their
    # temporary files in the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = config["spark.local.dir"]
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in config.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_speed_s() -> float:
    """CPU seconds of a fixed pure-Python loop (median of three): a reading of
    the host's speed for the record."""

    def once() -> float:
        t0 = time.process_time()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        return time.process_time() - t0

    return statistics.median(once() for _ in range(3))


def closed_loop(wl, reference, seconds: float, min_calls: int, before=None, after=None):
    """Call the workload back to back until ``seconds`` have passed (and at
    least ``min_calls`` times). ``before(i)``/``after(i, wall)`` bracket each
    call outside its timed region. Returns (wall times, failed count,
    problems)."""
    from perfbench.workloads import diff_results

    times: list[float] = []
    failed = 0
    problems: list[str] = []
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or i < min_calls:
        if before:
            before(i)
        t0 = time.perf_counter()
        try:
            result = wl.call()
            wall = time.perf_counter() - t0
            if after:
                after(i, wall)
            bad = wl.check(result) + diff_results(result, reference)
        except Exception as e:  # a failed call counts against failed_frac
            wall = time.perf_counter() - t0
            bad = [f"call {i} raised {type(e).__name__}: {e}"]
        times.append(wall)
        if bad:
            failed += 1
            problems.extend(bad[:2])
        i += 1
    return times, failed, problems


def untraced(wl, reference, seconds: float):
    from perfbench.procstat import TreeMeter

    meter = TreeMeter()
    meter.start()
    times, failed, problems = closed_loop(wl, reference, seconds, MIN_CALLS)
    cpu = meter.stop()
    n = len(times)
    if cpu["steal_cores"] > STEAL_LIMIT_CORES:
        problems.append(
            f"host contended: {cpu['steal_cores']:.2f} cores of hypervisor steal over the "
            f"loop, above {STEAL_LIMIT_CORES}; these figures are not comparable, repeat the run"
        )
    metrics = {
        "call_p50_s": (statistics.median(times), "s"),
        "call_tail_s": (max(times), "s"),
        "rows_per_s": (wl.rows_per_call * n / sum(times), "rows/s"),
        "cpu_s_per_call": (cpu["tree"] / n, "s"),
        "peak_rss_mb": (meter.peak_rss / 1e6, "MB"),
        "ok_frac": ((n - failed) / n, "ratio"),
    }
    notes = {
        "calls": n,
        "failed_frac": failed / n,
        "external_cpu_cores": round(cpu["external_cores"], 3),
        "steal_cores": round(cpu["steal_cores"], 3),
        "call_times_s": [round(t, 3) for t in times],
    }
    return metrics, notes, n, failed, problems


def traced(spark, wl, reference, seconds: float, seed: int, work: str):
    """Interleave traced and untraced calls in one loop; per-layer metrics
    are medians over the traced calls. Calls 2k and 2k+1 form a pair of one
    traced and one untraced call, in the order traced-untraced,
    untraced-traced, traced-untraced, ..., so a drift of call times over the
    loop cancels. The tracing overhead is the median of the pairs'
    traced-minus-untraced differences, reported with their spread. Then run
    the workload's layer probes."""
    from great_expectations_spark.plans.planner import SuitePlanner
    from perfbench import workloads
    from perfbench.procstat import TreeMeter
    from perfbench.tracing import (
        PASSES,
        PlannerPasses,
        SparkAccounting,
        Spans,
        mark_isolated,
    )

    spans = Spans()
    for owner, attr, name in wl.span_targets():
        spans.wrap(owner, attr, name)
    undo_isolated = mark_isolated(spark, SuitePlanner)
    acct = SparkAccounting(spark, PlannerPasses())
    records: list[dict] = []
    state: dict = {}
    meter = TreeMeter()

    def is_traced(i: int) -> bool:
        return i % 4 in (0, 3)

    def before(i: int) -> None:
        if not is_traced(i):
            return
        state["cpu0"] = meter.snapshot()
        state["group"] = acct.begin(wl.name)
        spans.call_id = f"call{i}"
        spans.active = True

    def after(i: int, wall: float) -> None:
        if not is_traced(i):
            state.setdefault("plain", {})[i] = wall
            return
        spans.active = False
        rec = acct.end(state["group"])
        cpu1 = meter.snapshot()
        rec["cpu"] = {k: cpu1[k] - state["cpu0"][k] for k in cpu1}
        rec["wall"] = wall
        rec["i"] = i
        records.append(rec)

    meter.start()
    try:
        times, failed, problems = closed_loop(
            wl, reference, seconds, TRACED_MIN_CALLS, before, after
        )
        cpu = meter.stop()
        probe: dict[str, float] = {}
        probe.update(workloads.probe_compile(wl))
        if isinstance(wl, workloads.SuiteWide):
            got, bad = workloads.probe_checkpoint(spark, wl, spans, work)
            probe.update(got)
            problems += bad
        if isinstance(wl, workloads.ImagesArrow):
            probe.update(workloads.probe_decode(wl))
            got, bad = workloads.probe_corpus(spark, seed, spans, work)
            probe.update(got)
            problems += bad
    finally:
        spans.active = False
        spans.restore()
        undo_isolated()
    os.makedirs(WORK_ROOT, exist_ok=True)
    spans.write(os.path.join(WORK_ROOT, f"spans-{wl.name}-seed{seed}.jsonl"))

    def med(fn) -> float:
        return statistics.median(fn(r) for r in records)

    # exact counts must repeat call after call: jobs, then jobs per pass
    counts = {
        (r["jobs"],) + tuple(r["passes"].get(p, {}).get("jobs", 0) for p in PASSES + ("isolated",))
        for r in records
    }
    if len(counts) > 1:
        problems.append(f"job counts do not repeat across calls: {sorted(counts)}")

    def pass_stat(p: str, field: str) -> float:
        return med(lambda r: r["passes"].get(p, {}).get(field, 0))

    plain = state.get("plain", {})
    paired = [r["wall"] - plain[r["i"] ^ 1] for r in records if r["i"] ^ 1 in plain]
    traced_p50 = statistics.median(r["wall"] for r in records)
    m = {
        "spark.jobs_per_call": (med(lambda r: r["jobs"]), "count"),
        "spark.stages_per_call": (med(lambda r: r["stages"]), "count"),
        "spark.tasks_per_call": (med(lambda r: r["tasks"]), "count"),
        "spark.job_busy_s": (med(lambda r: r["busy_s"]), "s"),
        "spark.executor_cpu_s": (med(lambda r: r["cpu_s"]), "s"),
        "spark.executor_run_s": (med(lambda r: r["run_s"]), "s"),
        "spark.gc_s": (med(lambda r: r["gc_s"]), "s"),
        "spark.input_mb": (med(lambda r: r["input_b"]) / 1e6, "MB"),
        "spark.shuffle_write_mb": (med(lambda r: r["shuffle_write_b"]) / 1e6, "MB"),
        "spark.spill_mb": (med(lambda r: r["spill_b"]) / 1e6, "MB"),
        "driver.self_s": (med(lambda r: r["wall"] - r["busy_s"]), "s"),
        "proc.jvm_cpu_s": (med(lambda r: r["cpu"]["jvm"]), "s"),
        "proc.pyworker_cpu_s": (med(lambda r: r["cpu"]["pyworker"]), "s"),
        "proc.driver_py_cpu_s": (med(lambda r: r["cpu"]["driver"]), "s"),
        "planner.compile_s": (probe.pop("planner.compile_s"), "s"),
    }
    for p in PASSES:
        m[f"planner.{p}.jobs"] = (pass_stat(p, "jobs"), "count")
        m[f"planner.{p}.busy_s"] = (pass_stat(p, "busy_s"), "s")
        m[f"planner.{p}.executor_cpu_s"] = (pass_stat(p, "cpu_s"), "s")
        m[f"planner.{p}.shuffle_write_mb"] = (pass_stat(p, "shuffle_write_b") / 1e6, "MB")
    m["planner.isolated.jobs"] = (pass_stat("isolated", "jobs"), "count")
    m["planner.unattributed.jobs"] = (
        med(lambda r: sum(v["jobs"] for k, v in r["passes"].items() if k in ("other", "outside"))),
        "count",
    )
    for name in workloads.PROBE_METRICS:
        unit = workloads.PROBE_METRICS[name]
        m[name] = (probe.get(name, 0.0), unit)
    m["trace.call_p50_s"] = (traced_p50, "s")
    m["trace.overhead_s"] = (statistics.median(paired), "s")
    q = statistics.quantiles(paired, n=4)
    m["trace.overhead_iqr_s"] = (q[2] - q[0], "s")
    if m["planner.isolated.jobs"][0]:
        problems.append("the planner fell back to isolated passes")
    notes = {
        "calls": len(times),
        "traced_calls": len(records),
        "call_times_s": [round(t, 3) for t in times],
        "external_cpu_cores": round(cpu["external_cores"], 3),
        "steal_cores": round(cpu["steal_cores"], 3),
        "job_names": records[0]["job_names"] if records else [],
    }
    return m, notes, len(times), failed, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no package to benchmark at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    config = session_config(cores, work)
    load_start = os.getloadavg()
    spark = start_spark(config, work)
    try:
        import great_expectations_spark  # noqa: F401  (import cost is set-up)
        from perfbench.workloads import WORKLOADS, canonical, diff_results

        session_s = age_now()
        wl = WORKLOADS[args.workload](spark, args.seed)
        # input generation is timed apart from set-up
        t0 = time.perf_counter()
        wl.generate(work)
        generate_s = time.perf_counter() - t0
        # set-up ends with loading the inputs (page cache warmed) and the
        # first, cold call
        t0 = time.perf_counter()
        wl.load()
        first = wl.call()
        first_call_s = time.perf_counter() - t0
        setup_s = session_s + first_call_s
        wl.build_oracle()
        problems = wl.check(first)
        reference = canonical(first)
        warmup_s = []
        for _ in range(WARMUP_CALLS):
            t0 = time.perf_counter()
            problems += diff_results(wl.call(), reference)
            warmup_s.append(time.perf_counter() - t0)
        speed = [cpu_speed_s()]
        if args.trace:
            metrics, notes, attempted, failed, bad = traced(
                spark, wl, reference, args.seconds, args.seed, work
            )
        else:
            metrics, notes, attempted, failed, bad = untraced(wl, reference, args.seconds)
            metrics["setup_s"] = (setup_s, "s")
        problems += bad
        speed.append(cpu_speed_s())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics):
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(declared) ^ set(metrics))}")

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "session_up_s": round(session_s, 3),
        "generate_s": round(generate_s, 3),
        "first_call_s": round(first_call_s, 3),
        "warmup_calls_s": [round(x, 3) for x in warmup_s],
        "cpu_speed_s_start_end": [round(x, 4) for x in speed],
        "session_config": {k: v for k, v in config.items() if "dir" not in k and "Options" not in k},
        **notes,
    }
    for name, (value, unit) in metrics.items():
        extra = ""
        if name == "call_tail_s":
            extra = f"  (slowest of {notes['calls']} calls)"
        print(f"{args.workload} {name} = {value:.6g} {unit}{extra}")
    for p in problems[:20]:
        print(f"problem: {p}")
    print(json.dumps({"host": host}))
    print(
        json.dumps(
            {
                "correct": not problems and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
