"""Per-layer measurement, taken from outside the program.

Two sources:

* Python-side spans: ``Tracer.install`` wraps the public functions of
  ``plans.manifest``, ``plans.zonemap`` and ``sources.copy`` (and the names
  ``engine.py`` imported from them directly), so every call records a span
  ``(layer, function, op sequence number, start, end, depth)``. Spans stay
  in memory until the run ends.
* Spark's own event log (``spark.eventLog.enabled`` with compression off).
  Every operation runs under ``SparkContext.setJobGroup("<workload>#<kind>#
  <seq>#<phase>")``, and ``fold_event_log`` folds the SQLExecutionStart,
  JobStart/JobEnd, StageCompleted and TaskEnd events into per-operation
  counters keyed by ``seq``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# layer name -> module whose public functions are wrapped
LAYERS = {
    "manifest": "kuibadb_spark.plans.manifest",
    "zonemap": "kuibadb_spark.plans.zonemap",
    "copy": "kuibadb_spark.sources.copy",
}
# manifest functions that publish a new table version
PUBLISH_FNS = {"commit_files", "replace_files", "prepare_publish",
               "finish_publish", "publish", "publish_held"}
COPY_PARSE_CHECK_FNS = {"parse_typed", "check_not_null", "check_constraint"}
# TaskEnd events carry no "is Python" flag; a stage ran Python UDF code when
# one of its SQL metrics is a Python-exec metric
PY_METRIC_MARKERS = ("Python",)


class Tracer:
    """Wraps layer functions in place; ``uninstall`` restores them."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.op_seq: int | None = None
        self._depth: dict[str, int] = defaultdict(int)
        self._restore: list[tuple] = []
        # values returned by sources.copy.auto_copy_parallel
        self.copy_parallel: list[int] = []

    def install(self) -> None:
        import importlib

        engine = importlib.import_module("kuibadb_spark.engine")
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (name.startswith("_") or not callable(fn)
                        or getattr(fn, "__module__", None) != modname
                        or isinstance(fn, type)):
                    continue
                wrapped = self._wrap(layer, name, fn)
                for holder in (mod, engine):
                    if getattr(holder, name, None) is fn:
                        self._restore.append((holder, name, fn))
                        setattr(holder, name, wrapped)

    def uninstall(self) -> None:
        for holder, name, fn in reversed(self._restore):
            setattr(holder, name, fn)
        self._restore.clear()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = self._depth[layer]
            self._depth[layer] = depth + 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth[layer] = depth
                self.spans.append((layer, name, self.op_seq, t0,
                                   time.perf_counter(), depth))
            if name == "auto_copy_parallel":
                self.copy_parallel.append(out or 0)
            return out

        return wrapper

    def layer_seconds(self, layer: str, fns: set[str],
                      seqs: set[int]) -> float:
        """Time in outermost calls of ``layer`` functions ``fns`` made
        during operations ``seqs``."""
        return sum(
            s[4] - s[3] for s in self.spans
            if s[0] == layer and s[5] == 0 and s[1] in fns and s[2] in seqs
        )


def _merge_spans(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class OpCounters:
    """Counters of one operation (one job-group ``seq``)."""

    __slots__ = ("jobs", "build_jobs", "stages", "tasks", "run_ms",
                 "cpu_ns", "gc_ms", "input_bytes", "shuffle_write_bytes",
                 "shuffle_write_records", "shuffle_read_bytes",
                 "fetch_wait_ms", "spill_bytes", "py_run_ms", "py_cpu_ns",
                 "skew", "job_spans_ms", "sql_execs")

    def __init__(self) -> None:
        for k in self.__slots__:
            setattr(self, k, 0)
        self.skew = 1.0
        self.job_spans_ms = []


def fold_event_log(log_dir: str, prefix: str) -> dict[int, OpCounters]:
    """Fold the (single) application event log under ``log_dir`` into
    per-operation counters for job groups starting with ``prefix``."""
    # Spark writes rolling logs as <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    job_op: dict[int, tuple[int, str]] = {}
    stage_op: dict[int, int] = {}
    job_start: dict[int, int] = {}
    py_stages: set[int] = set()
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    task_times: dict[int, list[tuple[int, int]]] = defaultdict(list)
    ops: dict[int, OpCounters] = defaultdict(OpCounters)
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind.endswith("SQLExecutionStart"):
            group = ev.get("jobGroupId") or ""
            if group.startswith(prefix):
                ops[int(group.split("#")[2])].sql_execs += 1
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group or not group.startswith(prefix):
                continue
            _, _, seq, phase = group.split("#")
            jid = ev["Job ID"]
            job_op[jid] = (int(seq), phase)
            job_start[jid] = ev["Submission Time"]
            op = ops[int(seq)]
            op.jobs += 1
            if phase == "build":
                op.build_jobs += 1
            for sid in ev["Stage IDs"]:
                stage_op[sid] = int(seq)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_op:
                seq = job_op[jid][0]
                ops[seq].job_spans_ms.append(
                    (job_start[jid], ev["Completion Time"], job_op[jid][1]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_op:
                continue
            ops[stage_op[sid]].stages += 1
            if any(m in (a.get("Name") or "")
                   for a in info.get("Accumulables", [])
                   for m in PY_METRIC_MARKERS):
                py_stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_op:
                continue
            op = ops[stage_op[sid]]
            m = ev.get("Task Metrics") or {}
            op.tasks += 1
            run_ms = m.get("Executor Run Time", 0)
            cpu_ns = m.get("Executor CPU Time", 0)
            op.run_ms += run_ms
            op.cpu_ns += cpu_ns
            op.gc_ms += m.get("JVM GC Time", 0)
            op.input_bytes += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            op.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            op.shuffle_write_records += sw.get(
                "Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            op.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
            op.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            op.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            info = ev.get("Task Info") or {}
            stage_tasks[sid].append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0))
            task_times[sid].append((run_ms, cpu_ns))
    for sid, durs in stage_tasks.items():
        if len(durs) >= 2:
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
            op = ops[stage_op[sid]]
            op.skew = max(op.skew, skew)
    # Python-worker time: executor run minus JVM CPU on Python stages
    for sid in py_stages:
        op = ops[stage_op[sid]]
        for run_ms, cpu_ns in task_times[sid]:
            op.py_run_ms += run_ms
            op.py_cpu_ns += cpu_ns
    return dict(ops)


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def op_gap_ms(op: OpCounters, run_wall_ms: float) -> float:
    """Run-phase wall time not covered by any run-phase job."""
    covered = _merge_spans([(s, e) for s, e, ph in op.job_spans_ms
                            if ph == "run"])
    return max(0.0, run_wall_ms - covered)
