#!/usr/bin/env python3
"""Sync benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload sync_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py, outside every timed region), runs the harness, checks
every answer against the generator, and prints a report line and, as the
last line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170
HEAP = "3g"
CORES = 4
# Set-ups per run: the main JVM's plus this many set-up-only JVMs.
EXTRA_SETUPS = 1

# Timed windows in order: (kind, share of --seconds, nominal seconds per
# round, untimed warm-up rounds, least timed rounds). A round is a sync
# cycle or one pass over a query sequence. --seconds fixes the timed
# work: each window runs the rounds its share buys at the nominal round
# time, the same count in every run, so no run's mix or place on the JIT
# warm-up curve depends on its speed. The cold cycle comes first and is
# a warm-up of its own. A levelled series (rounds within a few percent)
# needs more rounds than a run can afford, so runs stop at the same
# point of the warm-up curve instead; the report lists every series.
WINDOWS = [("sync", 0.5, 3.0, 1, 2),
           ("sql", 0.25, 0.6, 3, 3),
           ("search", 0.25, 1.2, 2, 2)]
WORKLOADS = ("sync_bulk", "sync_many_kinds")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def inputs_for(work, workload, seed):
    """Generated inputs of (workload, seed), made once and reused."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(work, "inputs", "%s-%d-%s" % (workload, seed, tag))
    if not os.path.exists(os.path.join(d, "expected.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "expected.json")) as f:
        return d, json.load(f)


def steal_s():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def calibrate():
    """Seconds of a fixed CPU and memory loop; a ratio of two readings
    shows a slower machine, not a slower program."""
    t = time.perf_counter()
    buf = bytearray(8 << 20)
    acc = 0
    for i in range(0, len(buf), 64):
        buf[i] = i & 255
    for i in range(300000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def jvm(cp, work, plan, timeout):
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    if os.path.exists(out_path):
        os.remove(out_path)
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -UsePerfData: the JVM would write its perf file outside the checkout.
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.driver.host=127.0.0.1",
           "-Dspark.driver.bindAddress=127.0.0.1",
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
           "-Dderby.system.home=" + work,
           "-Dderby.stream.error.file=" + os.path.join(work, "derby.log")]
    for p in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", ":".join(cp), "perfbench.Harness", plan_path, out_path]
    # The program's own tuning variables would change what is measured.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        fail("harness failed (exit %d):\n%s" % (proc.returncode, log[-3000:]))
    with open(out_path) as f:
        return json.load(f)


def plan_for(args, d, expected, work, setup_only=False):
    windows = [{"type": kind, "warmup": warmup,
                "timed": max(least, int(args.seconds * share / nominal))}
               for kind, share, nominal, warmup, least in WINDOWS]
    return {
        "workload": args.workload, "trace": bool(args.trace),
        "setup_only": setup_only, "cores": CORES, "work": work,
        "model": os.path.join(d, "model.json"),
        "inputs": [os.path.join(d, "{main,extra%d}.jsonl" % v) for v in (0, 1)],
        "base": os.path.join(work, "base"),
        "first_query": expected["first_query"]["sql"],
        "observed_pairs": expected["observed_pairs"],
        "sql": [{"id": q["id"], "sql": q["sql"], "index": q["index"]}
                for q in expected["sql"]],
        "search": [{"id": q["id"], "q": q["q"], "index": q["index"]}
                   for q in expected["search"]],
        "windows": windows,
        "probes": {"graph": os.path.join(d, "probe.jsonl"),
                   "model": os.path.join(d, "probe_model.json"),
                   "dict_model": os.path.join(d, "probe_model_dict_tags.json"),
                   "dir": os.path.join(work, "probes")},
    }


def dir_stats(paths):
    files = size = 0
    for p in paths:
        for dp, _, fs in os.walk(p):
            for f in fs:
                files += 1
                size += os.path.getsize(os.path.join(dp, f))
    return files, size


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    work_root = os.path.join(root, ".bench_build", "perfbench")
    try:
        cp = build.build(root, work_root)
    except build.BuildError as e:
        fail(str(e))
    d, expected = inputs_for(work_root, args.workload, args.seed)
    # The deadline counts from here: a first run also builds.
    t0 = time.monotonic()
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        calib0, steal0 = calibrate(), steal_s()
        setups = []
        t_gen = t0 - t_start
        for _ in range(EXTRA_SETUPS):
            rec = jvm(cp, work, plan_for(args, d, expected, work, True),
                      DEADLINE_S - (time.monotonic() - t0))
            setups.append(rec["setup_s"])
        t_setups = time.monotonic() - t_start
        rec = jvm(cp, work, plan_for(args, d, expected, work),
                  DEADLINE_S - (time.monotonic() - t0))
        setups.append(rec["setup_s"])
        calib1, steal1 = calibrate(), steal_s()
        wall = {"build_gen_s": t_gen, "setups_s": t_setups - t_gen,
                "total_s": time.monotonic() - t_start}
        # The run's full record (spans, ops, jobs) stays for inspection.
        shutil.copy(os.path.join(work, "out.json"), os.path.join(
            work_root, "last-%s-trace%d.json" % (args.workload, args.trace)))
        snap = [o for o in rec["ops"] if o["kind"] == "snapshot"][-1]
        files, size = dir_stats(snap.get("prod_paths", {}).values())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Every operation is checked, warm-up rounds too, and so is the
    # table set ModelCompiler derives.
    failures = [(o["kind"], o.get("name"), why) for o in rec["ops"]
                for why in [metrics.check_op(o, expected)] if why]
    if rec["model_tables"] != expected["tables"]:
        failures.append(("setup", "model", "ModelCompiler's table set "
                         "differs from the generator's"))
    attempted = len(rec["ops"]) + 1
    env = {"steal_s": steal1 - steal0, "calib_ratio": calib1 / calib0}
    result, report = layers.summarize(
        args, rec, expected, setups, attempted, len(failures),
        {"files": files, "bytes": size}, env)
    report["failures"] = failures[:20]
    report["wall"] = wall
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": result}))


if __name__ == "__main__":
    main()
