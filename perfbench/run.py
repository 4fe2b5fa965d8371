"""Benchmark of the kuibadb_spark engine: two seeded closed-loop workloads.

    python3 perfbench/run.py --workload {olap_short,dml_txn}
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

One client, one process, Spark on ``local[$SPARK_GRAFT_CPUS or nproc]``. A
run brings up the session, prepares the seeded fixture, runs warm-up passes
over every operation kind until two passes agree, prepares the fixture
anew, measures a fixed number of operations sized to about ``--seconds`` at
the time the benchmark was written, and checks every output against a
DuckDB oracle or mirror. ``setup_s`` is the session bring-up plus both
fixture preparations plus the whole warm-up.

The host is a VM whose hypervisor steals CPU time when neighbours are busy,
which slows every operation by up to 2x. The benchmark reads the host's
CPU ticks from ``/proc/stat`` around every operation and around the set-up.
An operation during which more than ``STEAL_MAX`` of the host's CPU time
was stolen is set aside and its kind run again, up to a limit. The
end-to-end times leave out what was stolen: each time is scaled by the
share of the host's non-idle CPU time that was not stolen, which is 1 on a
host without steal. The results file keeps every sample with its steal
share, the count set aside, and the end-to-end metrics as measured.

Latencies are balanced over operation kinds, so that every kind weighs the
same whatever its count: ``latency_p50_s`` is the geometric mean over kinds
of each kind's median time, ``latency_tail_s`` the same of each kind's
slowest time. A run measures a few dozen operations, one to seven of a kind,
too few for a percentile with ten samples beyond it above about p60, so the
tail is the per-kind maximum.

The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. A traced run makes two phases that differ
only in tracing, each a new Spark session (the second in the same JVM)
through fixture, warm-up, fresh fixture and measurement: the first
untraced, the second with Spark's event log on and the layer wrappers of
``layers.py`` installed.

Every run also writes its own results file, with run metadata (including
the share of CPU time the host's hypervisor stole while measuring) and every
sample, to ``perfbench/results/``. Working files live in
``perfbench/_work/<pid>/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-process, so that runs sharing a checkout never touch each other's files
WORK = os.path.join(HERE, "_work", str(os.getpid()))
RESULTS = os.path.join(HERE, "results")

WORKLOADS = ("olap_short", "dml_txn")
MAX_EXTRA_WARM = 2     # passes allowed past MIN_WARM to become steady
STEADY = 0.25          # a warm-up pass within 25% of the previous is steady
TAIL_BEYOND = 10       # the tail percentile keeps >= 10 samples beyond it
# An operation during which the hypervisor stole more than STEAL_MAX of the
# host's CPU time measures the host, not the program: it is set aside and
# its kind run again, at most MAX_ASIDE * (operations measured) times.
STEAL_MAX = 0.05
MAX_ASIDE = 0.25
# A traced run must end within three minutes even on a slow host: when its
# untraced phase took longer than SLOW_PHASE_S, the traced phase warms up
# with a single pass (its results record this; trace.overhead then also
# carries the warm-up it skipped).
SLOW_PHASE_S = 90.0
WRITE_KINDS = ("insert", "update", "delete", "merge", "sql_txn")
ENGINE_KINDS = {"copy_from": "engine.copy_from_s", "insert": "engine.insert_s",
                "update": "engine.update_s", "delete": "engine.delete_s",
                "merge": "engine.merge_s", "sql_txn": "engine.sql_txn_s",
                "read": "engine.table_read_s"}


# -- statistics ---------------------------------------------------------------
def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it. With fewer than 2 * TAIL_BEYOND samples
    that percentile would lie below the median, so the maximum is reported
    (percentile 100)."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def by_kind(samples: list[dict], steal_free: bool = False
            ) -> dict[str, list[float]]:
    """Latencies by kind, as measured or without the time stolen."""
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s["kind"], []).append(
            s["lat"] * (s["unstolen"] if steal_free else 1.0))
    return out


def kind_balanced(groups: dict[str, list[float]], stat) -> float:
    """Geometric mean over kinds of ``stat`` of each kind's times."""
    if not groups:
        return 0.0
    return math.exp(mean(math.log(stat(v)) for v in groups.values()))


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- environment --------------------------------------------------------------
def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from any working directory."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(RESULTS, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def host_cpu() -> tuple[int, int, int]:
    """(stolen, busy, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user time
    return t[7], t[0] + t[1] + t[2] + t[5] + t[6], sum(t[:8])


def steal_share(a: tuple, b: tuple) -> float:
    """Share of the host's CPU time its hypervisor stole between a and b."""
    return (b[0] - a[0]) / (b[2] - a[2]) if b[2] > a[2] else 0.0


def unstolen(a: tuple, b: tuple) -> float:
    """Share of the host's non-idle CPU time between a and b that the
    hypervisor did not steal. A time scaled by it leaves out the stretch
    the steal added: the host's vCPUs only accrue steal while runnable."""
    steal, busy = b[0] - a[0], b[1] - a[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def start_session(eventlog_dir: str | None = None):
    from kuibadb_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            # no Python zstd module is installed to read a compressed log
            "spark.eventLog.compress": "false",
        })
    spark = session.builder("kuibadb-perfbench", conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_metadata(spark, seed: int) -> dict:
    def git(*a):
        try:
            return subprocess.run(["git", "-C", ROOT, *a], capture_output=True,
                                  text=True, timeout=10, check=True).stdout
        except (OSError, subprocess.SubprocessError):
            return None

    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if sha else None
    mem_total = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total = int(line.split()[1]) * 1024
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf()
    return {
        "git_sha": sha.strip() if sha else "unknown",
        "git_dirty": bool(status.strip()) if status is not None else None,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_bytes": mem_total,
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.master": conf.get("spark.master", None),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "seed": seed,
        "timestamp": dt.datetime.now(dt.timezone.utc).isoformat(),
    }


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait until it has exited (it
    exits when its standard input closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_gc_ms(spark) -> int:
    """Total collection time of the JVM's garbage collectors so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime())
               for b in mf.getGarbageCollectorMXBeans())


def jvm_peak_rss_mib(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- the run ------------------------------------------------------------------
class Runner:
    """Executes operations of one workload and records every sample."""

    def __init__(self, name: str, wl, tracer=None) -> None:
        self.name = name
        self.wl = wl
        self.tracer = tracer
        self.seq = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []

    def op(self, kind: str) -> dict:
        self.seq += 1
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.op_seq = self.seq
        cpu0 = host_cpu()
        t0 = time.perf_counter()
        try:
            s = self.wl.run_op(kind, f"{self.name}#{kind}#{self.seq}")
        except Exception as e:  # a failed operation is counted, not fatal
            s = {"kind": kind, "ok": False, "error": repr(e)[:500]}
        finally:
            if self.tracer is not None:
                self.tracer.op_seq = None
        # wall: the whole operation, including the workload's own
        # bookkeeping around the timed call (lat)
        s["wall"] = time.perf_counter() - t0
        cpu1 = host_cpu()
        s["steal"] = steal_share(cpu0, cpu1)
        s["unstolen"] = unstolen(cpu0, cpu1)
        s["seq"] = self.seq
        if not s["ok"]:
            self.failed += 1
            self.failures.append(s)
        return s

    def warm_pass(self) -> float:
        t0 = time.perf_counter()
        for kind in self.wl.kinds():
            self.op(kind)
        return time.perf_counter() - t0

    def measure(self, schedule, n_ops: int) -> tuple[list[dict], list[dict]]:
        """Run ``n_ops`` operations of the schedule, setting aside (and
        running again) successful ones the host stole from: (kept samples,
        set-aside samples)."""
        kept: list[dict] = []
        aside: list[dict] = []
        again = None
        while len(kept) < n_ops:
            s = self.op(again or next(schedule))
            again = None
            if (s["ok"] and s["steal"] > STEAL_MAX
                    and len(aside) < MAX_ASIDE * n_ops):
                aside.append(s)
                again = s["kind"]
            else:
                kept.append(s)
        return kept, aside


def ops_rate(samples: list[dict], steal_free: bool = True) -> float:
    """Successful operations per second of operation wall time, by default
    without the time stolen from each operation."""
    wall = sum(s["wall"] * (s["unstolen"] if steal_free else 1.0)
               for s in samples)
    return sum(s["ok"] for s in samples) / wall if wall else 0.0


def n_ops_for(seconds: float, wl) -> int:
    """round(seconds / nominal op time), rounded to whole cycles of the
    workload's schedule (at least one)."""
    unit = wl.cycle_len()
    n = seconds / wl.NOMINAL_OP_S
    return unit * max(1, round(n / unit))


def make_workload(name: str, seed: int):
    if name == "dml_txn":
        import dml

        return dml.DmlWorkload(seed)
    import olap

    return olap.OlapWorkload(seed)


def phase(name: str, seed: int, seconds: float, workdir: str,
          eventlog_dir: str | None = None, max_warm: int | None = None
          ) -> dict:
    """One new Spark session: bring-up, fixture preparation, warm-up until
    steady, a fresh fixture, measurement and the correctness gate. With
    ``eventlog_dir`` Spark's event log is on and the layer wrappers are
    installed while measuring. ``max_warm`` caps the warm-up passes."""
    import numpy as np

    cpu0 = host_cpu()
    t0 = time.perf_counter()
    spark = start_session(eventlog_dir)
    spark.range(1).count()
    start_s = time.perf_counter() - t0
    meta = run_metadata(spark, seed)

    wl = make_workload(name, seed)
    runner = Runner(name, wl)
    t1 = time.perf_counter()
    wl.prepare(spark, os.path.join(workdir, "warm"))
    prep_s = time.perf_counter() - t1
    warm_s = []
    while len(warm_s) < (max_warm or wl.MIN_WARM + MAX_EXTRA_WARM):
        warm_s.append(runner.warm_pass())
        if (len(warm_s) >= wl.MIN_WARM
                and abs(warm_s[-1] - warm_s[-2]) <= STEADY * warm_s[-2]):
            break
    # measure on inputs prepared anew, so that what the warm-up changed (the
    # dml table grows) does not depend on how many passes it took
    t1 = time.perf_counter()
    wl.prepare(spark, os.path.join(workdir, "measure"))
    prep_s += time.perf_counter() - t1

    n_ops = n_ops_for(seconds, wl)
    schedule = wl.schedule(np.random.default_rng([seed, 0]))
    wl.reset_counters()
    tracer = None
    if eventlog_dir:
        import layers

        tracer = layers.Tracer()
        tracer.install()
        runner.tracer = tracer
    cpu1 = host_cpu()
    gc0 = jvm_gc_ms(spark)
    t1 = time.perf_counter()
    samples, aside = runner.measure(schedule, n_ops)
    wall = time.perf_counter() - t1
    jvm_gc_s = (jvm_gc_ms(spark) - gc0) / 1e3
    cpu2 = host_cpu()
    if tracer is not None:
        tracer.uninstall()
        runner.tracer = None

    # the untraced phase gates the outputs; a dml operation checks its own
    # output against the mirror in both phases
    gate = {} if eventlog_dir else wl.gate()
    for check in gate.values():
        runner.attempted += 1
        if not check["match"]:
            runner.failed += 1
    end = wl.end_state()
    rss = jvm_peak_rss_mib(spark)
    spark.stop()
    return {
        "meta": meta, "runner": runner, "samples": samples, "aside": aside,
        "wall": wall,
        "n_ops": n_ops, "start_s": start_s, "prep_s": prep_s,
        "warm_s": warm_s,
        "setup_s": start_s + prep_s + sum(warm_s),
        "setup_unstolen": unstolen(cpu0, cpu1),
        "steal_setup": steal_share(cpu0, cpu1),
        "steal_measure": steal_share(cpu1, cpu2),
        "jvm_gc_s": jvm_gc_s, "gate": gate, "end": end, "rss": rss,
        "tracer": tracer, "eventlog_dir": eventlog_dir,
    }


def phase_info(ph: dict) -> dict:
    runner = ph["runner"]
    groups = by_kind([s for s in ph["samples"] if s["ok"]])
    return {
        "n_ops": ph["n_ops"], "measure_wall_s": ph["wall"],
        "samples_per_kind": {k: len(v) for k, v in groups.items()},
        "set_aside": len(ph["aside"]), "steal_max": STEAL_MAX,
        "host_steal_share_setup": ph["steal_setup"],
        "host_steal_share_measure": ph["steal_measure"],
        "prepare_s": ph["prep_s"], "warm_s": ph["warm_s"],
        "session_start_s": ph["start_s"], "jvm_gc_s": ph["jvm_gc_s"],
        "gate": ph["gate"], "end_state": ph["end"],
        "error_rate": runner.failed / runner.attempted,
        "failures": runner.failures[:20],
        "samples": [{k: v for k, v in s.items() if k in (
            "kind", "lat", "wall", "steal", "unstolen", "build", "seq",
            "ok")}
            for s in ph["samples"] + ph["aside"]],
    }


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    prepare_env()
    # import the program before anything else, so that a checkout without
    # it fails here, before any result is printed
    import kuibadb_spark.engine  # noqa: F401
    import kuibadb_spark.registry  # noqa: F401

    t0 = time.perf_counter()
    plain = phase(name, seed, seconds, os.path.join(WORK, "plain"))
    slow = time.perf_counter() - t0 > SLOW_PHASE_S
    phases = [plain]
    ok = [s for s in plain["samples"] if s["ok"]]
    groups = by_kind(ok, True)
    e2e = {
        "setup_s": (plain["setup_s"] * plain["setup_unstolen"], "s"),
        "ops_per_s": (ops_rate(plain["samples"]), "1/s"),
        "latency_p50_s": (kind_balanced(groups, statistics.median), "s"),
        "latency_tail_s": (kind_balanced(groups, max), "s"),
    }
    info = {"workload": name, "plain": phase_info(plain),
            "as_measured": {
                "setup_s": plain["setup_s"],
                "ops_per_s": ops_rate(plain["samples"], False),
                "latency_p50_s": kind_balanced(by_kind(ok), statistics.median),
                "latency_tail_s": kind_balanced(by_kind(ok), max)}}
    per_layer = None
    if trace:
        import layers

        # a new SparkContext with its own warm-up and a fresh fixture, in
        # the JVM the untraced phase warmed: trace.overhead also carries
        # the JIT warming that the first warm-up left undone, and can read
        # above 1
        traced = phase(name, seed, seconds, os.path.join(WORK, "traced"),
                       os.path.join(WORK, "eventlog"), 1 if slow else None)
        phases.append(traced)
        info["traced"] = phase_info(traced)
        info["traced"]["single_warm_pass"] = slow
        ops = layers.fold_event_log(traced["eventlog_dir"], f"{name}#")
        info["op_counters"] = [
            {"seq": s["seq"], "kind": s["kind"],
             "jobs": ops[s["seq"]].jobs if s["seq"] in ops else 0,
             "shuffle_write_records": ops[s["seq"]].shuffle_write_records
             if s["seq"] in ops else 0,
             "files_written": s.get("files_written", 0)}
            for s in traced["samples"]]
        per_layer = layer_metrics(plain, traced, ops)
        info["spans"] = traced["tracer"].spans
    attempted = sum(ph["runner"].attempted for ph in phases)
    failed = sum(ph["runner"].failed for ph in phases)
    return {
        "meta": plain["meta"], "info": info, "e2e": e2e,
        "per_layer": per_layer, "correct": failed == 0,
        "attempted": attempted, "failed": failed,
    }


def layer_metrics(plain: dict, traced: dict, ops: dict) -> dict:
    """Per-layer metrics: times per kind from the untraced phase, counters
    and layer times from the traced one."""
    import layers

    runner = plain["runner"]
    ok = [s for s in plain["samples"] if s["ok"]]
    groups = by_kind(ok)
    writes = [x for k in WRITE_KINDS for x in groups.get(k, [])]
    reads = groups.get("read", [])
    copies = [s for s in ok if s["kind"] == "copy_from"]
    compacts = [s for s in ok if s["kind"] == "compact_gc"]
    end = traced["end"]
    live = end.get("live_rows", 0)

    t_samples = [s for s in traced["samples"] if s["ok"]]
    tracer = traced["tracer"]
    per_op = [ops.get(s["seq"], layers.OpCounters()) for s in t_samples]
    kind_of = {s["seq"]: s["kind"] for s in t_samples}

    def seqs_of(kinds):
        return {q for q, k in kind_of.items() if k in kinds}

    write_seqs = seqs_of(set(WRITE_KINDS))
    publish_seqs = write_seqs | seqs_of({"copy_from", "compact_gc"})
    copy_seqs = seqs_of({"copy_from"})

    def per(n, seqset):
        return n / len(seqset) if seqset else 0.0

    m = {
        "write_p50_s": (p50(writes), "s"),
        "write_tail_s": (tail(writes)[0], "s"),
        "read_p50_s": (p50(reads), "s"),
        "read_tail_s": (tail(reads)[0], "s"),
        "copy_rows_per_s": (
            sum(s["rows"] for s in copies) / sum(s["lat"] for s in copies)
            if copies else 0.0, "rows/s"),
        "disk_bytes_per_row": (
            end["disk_bytes"] / live if live else 0.0, "B/row"),
        "error_rate": (runner.failed / runner.attempted, "ratio"),
        "session.start_s": (plain["start_s"], "s"),
        "session.warmup_s": (sum(plain["warm_s"]), "s"),
        "setup.prepare_s": (plain["prep_s"], "s"),
        "operators.build_s": (mean(s.get("build", 0.0) for s in ok), "s"),
        "operators.build_jobs": (mean(o.build_jobs for o in per_op),
                                 "jobs/op"),
        "spark.jobs_per_op": (mean(o.jobs for o in per_op), "jobs/op"),
        "spark.stages_per_op": (mean(o.stages for o in per_op), "stages/op"),
        "spark.tasks_per_op": (mean(o.tasks for o in per_op), "tasks/op"),
        "spark.sql_execs_per_op": (mean(o.sql_execs for o in per_op),
                                   "execs/op"),
        "spark.driver_gap_s": (mean(
            layers.op_gap_ms(o, 1000.0 * (s["lat"] - s.get("build", 0.0)))
            for o, s in zip(per_op, t_samples)) / 1000.0, "s"),
        "exec.run_s": (mean(o.run_ms for o in per_op) / 1e3, "s/op"),
        "exec.cpu_s": (mean(o.cpu_ns for o in per_op) / 1e9, "s/op"),
        "exec.gc_s": (mean(o.gc_ms for o in per_op) / 1e3, "s/op"),
        "exec.input_bytes": (mean(o.input_bytes for o in per_op), "B/op"),
        "exec.task_skew": (p50([o.skew for o in per_op]), "ratio"),
        "shuffle.write_bytes": (mean(o.shuffle_write_bytes for o in per_op),
                                "B/op"),
        "shuffle.write_records": (
            mean(o.shuffle_write_records for o in per_op), "records/op"),
        "shuffle.read_bytes": (mean(o.shuffle_read_bytes for o in per_op),
                               "B/op"),
        "shuffle.fetch_wait_s": (mean(o.fetch_wait_ms for o in per_op) / 1e3,
                                 "s/op"),
        "spill.bytes": (mean(o.spill_bytes for o in per_op), "B/op"),
        "pyworker.s": (mean(max(0.0, o.py_run_ms / 1e3 - o.py_cpu_ns / 1e9)
                            for o in per_op), "s/op"),
    }
    for kind, metric in ENGINE_KINDS.items():
        m[metric] = (p50(groups.get(kind, [])), "s")
    m["engine.compact_s"] = (p50([s["compact"] for s in compacts]), "s")
    m["engine.gc_s"] = (p50([s["gc"] for s in compacts]), "s")
    m["engine.jobs_per_write"] = (
        per(sum(ops[q].jobs for q in write_seqs if q in ops), write_seqs),
        "jobs/op")
    m["manifest.publish_s"] = (per(tracer.layer_seconds(
        "manifest", layers.PUBLISH_FNS, publish_seqs), publish_seqs), "s/op")
    m["manifest.bytes"] = (float(end.get("manifest_bytes", 0)), "B")
    m["manifest.files_live"] = (float(end.get("manifest_files_live", 0)),
                                "files")
    storage = end.get("storage", {})
    m["storage.bytes_written_per_row_changed"] = (
        storage["bytes"] / storage["rows_changed"]
        if storage.get("rows_changed") else 0.0, "B/row")
    m["storage.files_written_per_write"] = (
        storage["files"] / storage["writes"] if storage.get("writes") else 0.0,
        "files/op")
    prune = end.get("prune", {})
    m["zonemap.prune_ratio"] = (
        prune["files_pruned"] / prune["files_total"]
        if prune.get("files_total") else 0.0, "ratio")
    m["zonemap.stats_s"] = (per(tracer.layer_seconds(
        "zonemap", {"collect_file_stats"}, publish_seqs), publish_seqs),
        "s/op")
    m["copy.parallel"] = (mean(tracer.copy_parallel), "tasks")
    m["copy.parse_check_s"] = (per(tracer.layer_seconds(
        "copy", layers.COPY_PARSE_CHECK_FNS, copy_seqs), copy_seqs), "s/op")
    m["copy.jobs"] = (per(sum(ops[q].jobs for q in copy_seqs if q in ops),
                          copy_seqs), "jobs/op")
    m["jvm.peak_rss_mib"] = (plain["rss"], "MiB")
    m["jvm.gc_s"] = (plain["jvm_gc_s"] / len(ok) if ok else 0.0, "s/op")
    m["trace.overhead"] = (
        ops_rate(traced["samples"]) / ops_rate(plain["samples"]), "ratio")
    return m


# -- output -------------------------------------------------------------------
def result_line(res: dict, trace: bool) -> dict:
    metrics = res["per_layer"] if trace else res["e2e"]
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def write_results(res: dict, name: str, seed: int, trace: bool) -> str:
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    path = os.path.join(RESULTS, f"{name}-seed{seed}-trace{int(trace)}-"
                                 f"{stamp}-{os.getpid()}.json")
    out = {k: v for k, v in res.items() if k not in ("e2e", "per_layer")}
    out["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in res["e2e"].items()}
    if res["per_layer"]:
        out["per_layer"] = {k: {"value": v, "unit": u}
                            for k, (v, u) in res["per_layer"].items()}
    with open(path, "w") as f:
        json.dump(out, f, indent=1, default=str)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="brief traced run of every workload, checking that "
                         "every declared metric is printed")
    args = ap.parse_args(argv)
    if args.smoke:
        import smoke

        try:
            return smoke.main()
        finally:
            stop_jvm()
            shutil.rmtree(WORK, ignore_errors=True)
    if not args.workload:
        ap.error("--workload is required")
    trace = bool(args.trace)
    try:
        res = run(args.workload, args.seed, args.seconds, trace)
        path = write_results(res, args.workload, args.seed, trace)
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    info = res["info"]["plain"]
    print(f"results: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(f"{args.workload}: {info['n_ops']} ops in "
          f"{info['measure_wall_s']:.2f} s, per kind "
          f"{info['samples_per_kind']}, host steal "
          f"{info['host_steal_share_measure']:.3f}, error_rate = "
          f"{info['error_rate']:.4f}, gate = "
          f"{sum(g['match'] for g in info['gate'].values())}/"
          f"{len(info['gate'])}", file=sys.stderr)
    for k, (v, u) in res["e2e"].items():
        print(f"  {k} = {v:.6g} {u}", file=sys.stderr)
    print(json.dumps(result_line(res, trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
