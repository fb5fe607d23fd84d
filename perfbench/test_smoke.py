"""The benchmark's own test: every workload runs a few ops at sf0.001,
traced and untraced, emits every metric BENCHMARK.json names with its
unit, and passes every output check.

    python3 -m pytest perfbench/test_smoke.py
"""

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def test_smoke_emits_every_metric_and_passes_every_check():
    proc = subprocess.run([sys.executable, RUN, "--smoke"], capture_output=True, text=True,
                          timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith('{"smoke"')]
    assert len(lines) == 4, proc.stdout[-4000:]
    assert all(line["correct"] for line in lines)


def test_missing_package_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.dirname(RUN)):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(os.path.dirname(RUN), name), "rb").read())
    proc = subprocess.run([sys.executable, str(bench / "run.py"), "--workload", "lake_ingest",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          capture_output=True, text=True, timeout=120, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
