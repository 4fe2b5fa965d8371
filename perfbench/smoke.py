"""Smoke mode: ``python3 perfbench/run.py --smoke``.

Runs every workload of ``BENCHMARK.json`` once, briefly and traced, in this
process (the olap fixture is at scale 0.001, about 6,000 lineitem rows). It
fails (exit 1) unless every run is correct and every end-to-end and
per-layer metric named in ``BENCHMARK.json`` is printed with its declared
unit. It also checks that
per-operation counters repeat across two repetitions of three operation
kinds (jobs, shuffle records written and files written per operation) and
lists every counter that does not.
"""

from __future__ import annotations

import json
import os
import sys

import run as bench

REPEAT_KINDS = {
    "olap_short": ["q1_pricing_summary", "w_ranking_parts",
                   "udf_apply_in_pandas"],
    "dml_txn": ["copy_from", "insert", "read"],
}
COUNTERS = ("jobs", "shuffle_write_records", "files_written")


def _seconds_for_two_reps(name: str) -> float:
    """Enough seconds for two whole cycles, so every kind runs twice."""
    wl = bench.make_workload(name, 1)
    return 2 * wl.cycle_len() * wl.NOMINAL_OP_S


def check_printed(line: dict, declared: list[dict]) -> list[str]:
    problems = []
    for m in declared:
        got = line["metrics"].get(m["name"])
        if got is None:
            problems.append(f"{m['name']}: not printed")
        elif got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r}, "
                            f"declared {m['unit']!r}")
    return problems


def non_repeating(counters: list[dict], kinds: list[str]) -> list[str]:
    out = []
    for kind in kinds:
        reps = [c for c in counters if c["kind"] == kind][:2]
        if len(reps) < 2:
            out.append(f"{kind}: fewer than two repetitions")
            continue
        for c in COUNTERS:
            if reps[0].get(c) != reps[1].get(c):
                out.append(f"{kind}.{c}: {reps[0].get(c)} then "
                           f"{reps[1].get(c)}")
    return out


def main() -> int:
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bench.prepare_env()  # makes the engine importable for make_workload
    failed = False
    for wl in spec["workloads"]:
        name = wl["name"]
        res = bench.run(name, 1, _seconds_for_two_reps(name), True)
        problems = []
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            line = bench.result_line(res, trace)
            print(json.dumps(line), file=sys.stderr)
            problems += check_printed(line, spec[key])
        if not res["correct"]:
            problems.append(f"incorrect: {res['failed']} of "
                            f"{res['attempted']} failed")
        drift = non_repeating(res["info"]["op_counters"], REPEAT_KINDS[name])
        print(f"{name}: {'FAIL' if problems else 'ok'}"
              + "".join(f"\n  {p}" for p in problems))
        print(f"{name}: counters that do not repeat across two reps: "
              + (", ".join(drift) if drift else "none"))
        failed |= bool(problems)
    return 1 if failed else 0
