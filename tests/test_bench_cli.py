"""bench.py's command line: a flag it does not know (such as a retired
mode) is a usage error, raised before any Spark session starts."""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_rejects_unknown_flag_before_starting_spark(tmp_path):
    # SPARK_HOME points at a stub spark-submit that leaves a marker, so any
    # attempt to launch the JVM gateway is visible
    marker = tmp_path / "jvm_launched"
    stub = tmp_path / "spark" / "bin" / "spark-submit"
    stub.parent.mkdir(parents=True)
    stub.write_text(f"#!/bin/sh\ntouch {marker}\nexit 1\n")
    stub.chmod(0o755)
    env = {
        k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")
    }
    env["SPARK_HOME"] = str(stub.parent.parent)

    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--scaling"],
        env=env, capture_output=True, text=True, timeout=120,
    )
    elapsed = time.time() - t0
    assert proc.returncode == 2, proc.stderr
    assert "unrecognized arguments: --scaling" in proc.stderr
    assert not marker.exists()
    assert elapsed < 30, elapsed
