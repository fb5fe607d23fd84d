#!/usr/bin/env python3
"""Seeded end-to-end benchmark of aws_data_wrangler_spark's user paths:
lake ingest with its fresh-data query, and corpus curation.

Run from the repository root:

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run starts one Spark session (``local[nproc]``), sets its workload
up three times (``setup_s`` = session start + the median set-up), runs
the workload's untimed warm-up if it has one (corpus curation: one
pipeline), then one client's ops back to back in whole cycles until
``--seconds`` of op time and the workload's fewest ops, checks every
op's output, and prints one JSON line last: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. ``--smoke`` runs one cycle
of every workload at sf0.001, traced and untraced, and fails unless
every metric ``BENCHMARK.json`` names is emitted with its unit and
every check passes. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import Any, Dict, List, Optional, Tuple

from spans import Tracer, per_layer_units
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "aws_data_wrangler_spark")
SETUP_REPS = 3
SF = 0.1  # TPC-H scale: ~600k lineitem rows; 1,000 documents per curation shard
SMOKE_SF = 0.001
# a run whose host stole more than this share of its CPU time (wall x
# nproc) is flagged as contended in its run line and on stderr
CONTENDED_STEAL_SHARE = 0.02

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
    "bytes_stored_per_input_byte": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_identity() -> Dict[str, Optional[str]]:
    """The commit when the tree is a git checkout, and always a hash of
    the package source, so a result names the code it measured."""
    digest = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(PACKAGE)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        proc = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=30)
        commit = proc.stdout.strip() or None
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal_s() -> float:
    """CPU time the host gave other guests (the ``steal`` column of
    /proc/stat), summed over CPUs: contention a run cannot see otherwise."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def configure_environment(run_dir: str) -> None:
    """Keep every file the run makes inside ``run_dir`` and size Spark
    to this machine. Must run before pyspark is imported."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def session_conf(run_dir: str) -> Dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp dir: the run writes only under run_dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run for the traced run's counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def run_workload(wr: Any, spark: Any, session: Tuple[float, float], name: str, seed: int,
                 seconds: float, trace: bool, sf: float, work_dir: str,
                 smoke: bool = False) -> Dict[str, Any]:
    """Set up, measure and check one workload on an open session;
    ``session`` is when the session's start began and ended. A smoke
    run times one cycle, not the workload's fewest ops."""
    tracer = Tracer(spark, trace)
    tracer.record("session.get_spark", *session)
    session_s = session[1] - session[0]
    wl = WORKLOADS[name](wr, tracer, work_dir, seed, sf, nproc())
    wl.spark = spark
    wl.prepare()

    clock = time.perf_counter()
    phases: Dict[str, float] = {}
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        reps.append(time.perf_counter() - t0)
    setup_s = session_s + statistics.median(reps)
    phases["setup"] = time.perf_counter() - clock

    clock = time.perf_counter()
    tracer.phase = "warmup"
    run_failures: List[Tuple[Optional[int], str]] = []
    try:
        wl.warmup()
    except Exception as exc:  # reported as a failed check of the run, not raised
        run_failures.append((None, f"warm-up: {type(exc).__name__}: {exc}"[:500]))
    phases["warmup"] = time.perf_counter() - clock

    tracer.phase = "window"
    started = time.perf_counter()
    min_ops = 1 if smoke else wl.MIN_OPS
    index, op_time = 0, 0.0
    while ((op_time < seconds or index % wl.CYCLE or index < min_ops)
           and time.perf_counter() - started < 2 * seconds + 40):
        kind, built = wl.build_op(index)
        with tracer.op(kind) as op:
            wl.run_op(op, built)
        op_time += op.wall
        wl.after_op(op)
        index += 1
    phases["window"] = time.perf_counter() - started

    clock = time.perf_counter()
    tracer.phase = "post"
    wl.finish()
    failures = run_failures + [(op.index, op.error) for op in tracer.ops if op.failed]
    failures += wl.check()
    phases["post"] = time.perf_counter() - clock
    peak = rss_mb(os.getpid()) + rss_mb(spark.sparkContext._gateway.proc.pid)

    ops = tracer.ops
    walls = [op.wall for op in ops]
    busy = sum(walls)
    # a failed check on the run as a whole (no op to blame) counts as one failed op
    failed = max(len({i for i, _ in failures if i is not None}), 1 if failures else 0)
    attempted = len(ops)
    detail = {
        "workload": name,
        "sf": wl.sf,
        "ops": attempted,
        "ops_by_kind": {k: sum(1 for op in ops if op.kind == k)
                        for k in sorted({op.kind for op in ops})},
        "setup_reps_s": reps,
        "session_s": session_s,
        "phase_s": phases,
        "op_walls_s": [round(w, 4) for w in walls],
        "failures": [{"op": i, "check": msg} for i, msg in failures[:20]],
    }
    if trace:
        tracer.attach_counters()
        tracer.self_times()
        layer = tracer.layer_metrics(busy, nproc())
        layer.update({
            "s3.files_written": wl.stored_files,
            "s3.bytes_written": wl.stored_bytes,
            "catalog.partitions": wl.partitions,
        })
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{name}-seed{seed}.json"), detail)
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(walls),
            "op_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[-1]
            if len(walls) > 1 else walls[0],
            "ops_per_s": attempted / busy,
            "rows_per_s": sum(op.rows for op in ops) / busy,
            "success_rate": 1.0 - failed / attempted,
            "peak_rss_mb": peak,
            "bytes_stored_per_input_byte": wl.ratio_stored_bytes / wl.ratio_input_bytes,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    return {
        "detail": detail,
        "result": {"correct": not failures, "attempted": attempted, "failed": failed,
                   "metrics": metrics},
    }


def start_session(wr: Any, run_dir: str) -> Tuple[Any, Tuple[float, float]]:
    t0 = time.perf_counter()
    spark = wr.get_spark(extra_conf=session_conf(run_dir))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, (t0, t1)


def stop_session(spark: Any) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    proc = spark.sparkContext._gateway.proc
    try:
        if proc.poll() is None:  # a JVM already gone (killed with us) cannot be asked
            spark.stop()
            spark.sparkContext._gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def smoke(wr: Any, spark: Any, session: Tuple[float, float], run_dir: str) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in declared["end_to_end"]},
            1: {m["name"]: m["unit"] for m in declared["per_layer"]}}
    problems: List[str] = []
    for w in declared["workloads"]:
        for trace in (0, 1):
            # a near-zero window still runs one whole cycle: every op kind once
            out = run_workload(wr, spark, session, w["name"], seed=7, seconds=0.01,
                               trace=bool(trace), sf=SMOKE_SF,
                               work_dir=os.path.join(run_dir, f"{w['name']}-{trace}"),
                               smoke=True)
            res = out["result"]
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{w['name']} trace={trace}"
            if got != want[trace]:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: checks failed: {out['detail']['failures']}")
            print(json.dumps({"smoke": tag, "ops": res["attempted"],
                              "correct": res["correct"]}), flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


def main(argv: Optional[List[str]] = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="every workload, one cycle of ops each, at sf0.001")
    args = parser.parse_args(argv)
    if not args.smoke and not args.workload:
        parser.error("--workload is required unless --smoke")
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: the package under test is missing ({PACKAGE})", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load1 = os.getloadavg()[0]
    steal0, wall0 = cpu_steal_s(), time.perf_counter()
    tag = "smoke" if args.smoke else f"{args.workload}-seed{args.seed}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{tag}-{os.getpid()}")
    configure_environment(run_dir)
    import aws_data_wrangler_spark as wr

    spark = None
    try:
        spark, session = start_session(wr, run_dir)
        if args.smoke:
            return smoke(wr, spark, session, run_dir)
        out = run_workload(wr, spark, session, args.workload, args.seed,
                           args.seconds, bool(args.trace), SF, os.path.join(run_dir, "work"))
        steal = cpu_steal_s() - steal0
        steal_share = steal / ((time.perf_counter() - wall0) * nproc())
        run_info = {"seed": args.seed, "nproc": nproc(), "load1_at_start": load1,
                    "cpu_steal_s": steal, "cpu_steal_share": steal_share,
                    "contended": steal_share > CONTENDED_STEAL_SHARE,
                    "seconds": args.seconds, "trace": args.trace,
                    **source_identity(), **out["detail"]}
        if run_info["contended"]:
            print(f"perfbench: contended run: the host stole {steal:.1f} s of CPU "
                  f"({steal_share:.1%} of the run's CPU time, over the "
                  f"{CONTENDED_STEAL_SHARE:.0%} limit); its figures are not comparable",
                  file=sys.stderr)
        print(json.dumps({"run": run_info}), flush=True)
        print(json.dumps(out["result"]), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
