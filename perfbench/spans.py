"""Op timing and the traced run's spans and Spark counters.

Every workload drives the package through one ``Tracer``. Untraced,
it only times ops. Traced, it also records a span around each call
into a layer (``busy``: the call itself) and around the benchmark's
materialization of a lazy result (``exec``), and tags each span with
its own Spark job group so the jobs it ran can be found afterwards in
the status store (``statusTracker`` + ``statusStore().lastStageAttempt``,
both live with ``spark.ui.enabled=false``). Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Any, Callable, Dict, List, Optional

# the layer functions the benchmark calls, named <layer>.<function>
FUNCTIONS = [
    "session.get_spark",
    "s3.to_parquet",
    "s3.merge_upsert_table",
    "s3.read_parquet",
    "s3.size_objects",
    "catalog.get_partitions",
    "athena.read_sql_query",
    "text.quality_filter",
    "dedup.exact_duplicates",
    "dedup.minhash_lsh_pairs",
    "similarity.build_partitioned_ivf",
    "similarity.ivf_partitioned_topk",
]
MEASURES = {
    "busy_s": "s/call",
    "exec_s": "s/call",
    "calls": "count",
    "failed": "count",
    "jobs": "jobs/call",
    "tasks": "tasks/call",
    "max_stage_tasks": "tasks",
    "shuffle_write_bytes": "B/call",
    "executor_run_s": "s/call",
}
EXTRA_LAYER_METRICS = {
    "s3.files_written": "count",
    "s3.bytes_written": "B",
    "catalog.partitions": "count",
    "spark.core_util": "ratio",
    "trace.uncovered_share": "ratio",
    "trace.bookkeeping_s": "s/op",
    "trace.op_p50_s": "s",
}


def per_layer_units() -> Dict[str, str]:
    units = {f"{fn}.{m}": u for fn in FUNCTIONS for m, u in MEASURES.items()}
    units.update(EXTRA_LAYER_METRICS)
    return units


class Op:
    """One timed operation of a workload."""

    def __init__(self, index: int, kind: str) -> None:
        self.index = index
        self.kind = kind
        self.start = 0.0
        self.end = 0.0
        self.failed = False
        self.error: Optional[str] = None
        self.rows = 0
        self.params: Any = None
        self.result: Any = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Times a workload's ops and, when ``enabled``, records its spans."""

    def __init__(self, spark: Any, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.ops: List[Op] = []
        self.spans: List[Dict[str, Any]] = []
        self.phase = "setup"
        self.bookkeeping_s = 0.0  # the tracer's own time inside window ops
        self._op: Optional[Op] = None
        self._next_id = 0

    # ----------------------------------------------------------- timing

    @contextmanager
    def op(self, kind: str):
        """Time one op. An exception inside marks the op failed and is
        kept, not raised: a failed op counts against ``error_rate``."""
        op = Op(len(self.ops), kind)
        self._op = op
        op.start = time.perf_counter()
        try:
            yield op
        except Exception as exc:  # the loop must keep running; the error is reported
            op.failed = True
            op.error = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            op.end = time.perf_counter()
            if self.enabled:
                self.spans.append(self._span(f"op.{kind}", "op", op.start, op.end, op.failed))
            self._op = None
            self.ops.append(op)

    def call(self, name: str, fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
        """A call into a layer: the ``busy`` span of ``name``."""
        return self._run(name, "busy", fn, args, kwargs)

    def exec(self, name: str, fn: Callable[[], Any]) -> Any:
        """The benchmark materializing ``name``'s lazy result: its ``exec`` span."""
        return self._run(name, "exec", fn, (), {})

    def _run(self, name: str, kind: str, fn: Callable[..., Any], args: tuple,
             kwargs: dict) -> Any:
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        span = self._span(name, kind, 0.0, 0.0, False)
        sc = self.spark.sparkContext
        sc.setJobGroup(span["group"], name)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except Exception:
            span["failed"] = True
            raise
        finally:
            end = time.perf_counter()
            span["start"], span["end"] = start, end
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(span)
            if self.phase == "window":
                self.bookkeeping_s += (start - t0) + (time.perf_counter() - end)

    def record(self, name: str, start: float, end: float) -> None:
        """A layer call timed before the tracer existed (the session start)."""
        if self.enabled:
            span = self._span(name, "busy", start, end, False)
            span["group"] = None
            self.spans.append(span)

    def _span(self, name: str, kind: str, start: float, end: float,
              failed: bool) -> Dict[str, Any]:
        self._next_id += 1
        op = self._op
        return {
            "id": f"op-{op.index}" if kind == "op" else f"s-{self._next_id}",
            "name": name,
            "kind": kind,
            "start": start,
            "end": end,
            "parent": None if kind == "op" or op is None else f"op-{op.index}",
            "op": op.index if op is not None else None,
            "phase": self.phase,
            "group": f"perfbench-{self._next_id}",
            "failed": failed,
        }

    # --------------------------------------------------------- counters

    def attach_counters(self) -> None:
        """Fill each layer span's Spark counters from its job group."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for span in self.spans:
            if span["group"] is None or span["kind"] == "op":
                continue
            jobs = list(tracker.getJobIdsForGroup(span["group"]))
            stages = set()
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            tasks = max_tasks = shuffle = run_ms = 0
            for stage in stages:
                data = store.lastStageAttempt(stage)
                if str(data.status()) == "SKIPPED":
                    continue
                n = int(data.numTasks())
                tasks += n
                max_tasks = max(max_tasks, n)
                shuffle += int(data.shuffleWriteBytes())
                run_ms += int(data.executorRunTime())
            span.update(jobs=len(jobs), tasks=tasks, max_stage_tasks=max_tasks,
                        shuffle_write_bytes=shuffle, executor_run_s=run_ms / 1000.0)

    # ---------------------------------------------------------- reports

    def self_times(self) -> None:
        """Self time = a span's duration minus the part its children cover."""
        children: Dict[Any, List[Dict[str, Any]]] = {}
        for span in self.spans:
            if span["parent"] is not None:
                children.setdefault(span["parent"], []).append(span)
        for span in self.spans:
            covered = 0.0
            cursor = span["start"]
            for child in sorted(children.get(span["id"], []), key=lambda s: s["start"]):
                lo, hi = max(child["start"], cursor), min(child["end"], span["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            span["self_s"] = (span["end"] - span["start"]) - covered

    def layer_metrics(self, op_time: float, nproc: int) -> Dict[str, float]:
        """Per-function metrics from the window's spans; a function the
        window never calls (session start, post-window listing) is
        reported from its setup or post-window spans instead."""
        out: Dict[str, float] = {}
        layer_spans = [s for s in self.spans if s["kind"] != "op"]
        for fn in FUNCTIONS:
            mine = [s for s in layer_spans if s["name"] == fn]
            in_window = [s for s in mine if s["phase"] == "window"]
            mine = in_window or mine
            busy = [s for s in mine if s["kind"] == "busy"]
            calls = len(busy)
            per = max(calls, 1)
            out[f"{fn}.calls"] = calls
            out[f"{fn}.failed"] = sum(1 for s in mine if s["failed"])
            out[f"{fn}.busy_s"] = sum(s["end"] - s["start"] for s in busy) / per
            out[f"{fn}.exec_s"] = sum(s["end"] - s["start"] for s in mine
                                      if s["kind"] == "exec") / per
            out[f"{fn}.jobs"] = sum(s.get("jobs", 0) for s in mine) / per
            out[f"{fn}.tasks"] = sum(s.get("tasks", 0) for s in mine) / per
            out[f"{fn}.max_stage_tasks"] = max([s.get("max_stage_tasks", 0) for s in mine],
                                               default=0)
            out[f"{fn}.shuffle_write_bytes"] = sum(
                s.get("shuffle_write_bytes", 0) for s in mine) / per
            out[f"{fn}.executor_run_s"] = sum(s.get("executor_run_s", 0.0) for s in mine) / per
        window = [s for s in layer_spans if s["phase"] == "window"]
        run_s = sum(s.get("executor_run_s", 0.0) for s in window)
        out["spark.core_util"] = run_s / (op_time * nproc) if op_time > 0 else 0.0
        op_spans = [s for s in self.spans if s["kind"] == "op"]
        op_wall = sum(s["end"] - s["start"] for s in op_spans)
        out["trace.uncovered_share"] = (
            sum(s["self_s"] for s in op_spans) / op_wall if op_wall > 0 else 0.0)
        walls = [op.wall for op in self.ops]
        out["trace.bookkeeping_s"] = self.bookkeeping_s / max(len(walls), 1)
        out["trace.op_p50_s"] = statistics.median(walls) if walls else 0.0
        return out

    def dump(self, path: str, meta: Dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)
