#!/usr/bin/env python3
"""Job timeline of the last timed sync cycle of a traced perfbench run.

    python3 tools/perfbench_timeline.py sync_many_kinds
    python3 tools/perfbench_timeline.py path/to/out.json

Reads `.bench_build/perfbench/last-<workload>-trace1.json` (the record a
`perfbench/run.py --trace 1` run leaves behind) or the record named, and
prints one line per Spark job of the last timed cycle: the span it ran
in, its start offset from the cycle's start, its wall time, its tasks,
its executor run time and the first graft frame of its call site. The
closing lines give each span's wall time and the part of it no job
covers (driver-only time), split into the time before its first job
(planning), between its jobs and after its last job (publishing).
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "perfbench"))
sys.dont_write_bytecode = True

from metrics import Trace, frame_class, union_ms  # noqa: E402


def call_site(trace, job):
    """First graft frame of the job's call site (or of its SQL
    execution's), without the `at ` prefix."""
    sites = [trace.stages[s].get("details", "") for s in job["stages"]
             if s in trace.stages]
    sites.append(trace.executions.get(job.get("execution", ""), ""))
    for details in sites:
        for line in details.splitlines():
            cls = frame_class(line)
            if cls and cls.startswith("graft."):
                return line.strip()
    return "-"


def main():
    arg = sys.argv[1] if len(sys.argv) > 1 else "sync_many_kinds"
    path = arg if arg.endswith(".json") else os.path.join(
        ".bench_build", "perfbench", "last-%s-trace1.json" % arg)
    with open(path) as f:
        rec = json.load(f)
    tr = Trace(rec)
    cycles = [o for o in rec["ops"]
              if o["kind"] == "cycle" and o["phase"] == "timed"]
    if not cycles:
        sys.exit("no timed cycle in %s" % path)
    root = tr.spans[cycles[-1]["span"]]
    t0 = root["start_ms"]
    jobs = sorted(tr.jobs_under(root["id"]), key=lambda j: j["start_ms"])
    print("cycle span %d: %.3f s, %d jobs" % (root["id"], root["dur_s"],
                                              len(jobs)))
    print("%5s %-14s %8s %8s %6s %8s  %s" % (
        "job", "span", "start_ms", "wall_ms", "tasks", "run_ms", "call site"))
    for j in jobs:
        stages = list(tr.stages_of([j]))
        print("%5d %-14s %8d %8d %6d %8d  %s" % (
            j["id"], tr.spans[int(j["span"])]["name"], j["start_ms"] - t0,
            j["end_ms"] - j["start_ms"],
            sum(s.get("tasks", 0) for s in stages),
            sum(s.get("run_ms", 0) for s in stages), call_site(tr, j)))
    print()
    print("%-14s %8s %8s %8s %8s %8s %6s" % (
        "span", "wall_ms", "gap_ms", "before", "between", "after", "jobs"))
    for sid in sorted(tr.subtree(root["id"])):
        s = tr.spans[sid]
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_s"] * 1e3
        under = tr.jobs_under(sid)
        iv = [(j["start_ms"], j["end_ms"]) for j in under]
        covered = union_ms(iv, lo, hi)
        # The gap's parts: before the first job starts, uncovered between
        # the first job's start and the last job's end, after that end.
        first = min([max(a, lo) for a, _ in iv] + [hi])
        last = max([min(b, hi) for _, b in iv] + [first])
        print("%-14s %8.0f %8.0f %8.0f %8.0f %8.0f %6d" % (
            s["name"], hi - lo, hi - lo - covered, first - lo,
            last - first - covered, hi - last, len(under)))


if __name__ == "__main__":
    main()
