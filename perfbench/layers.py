"""End-to-end and per-layer metrics of one run.

END_TO_END and PER_LAYER list every metric with its unit and what it
feeds: the end-to-end metric it should move and the workload where it
moves most. BENCHMARK.json lists the same names.
"""

from metrics import Trace, median, p90, self_time_s, union_ms

LAYERS = ("sources", "ingest", "sink", "sync", "query", "model")

# name: (unit, definition)
END_TO_END = {
    "setup_s": ("s", "JVM start until the SparkSession is up and the model "
                "is compiled; median of the run's set-ups in fresh JVMs"),
    "freshness_s": ("s", "median warm resync: readEnvelopes -> toParquet "
                    "(swap committed, catalog registered) -> first query"),
    "sql_ms": ("ms", "executeSql + collect: median over the timed rounds "
               "of a round's mean (a round runs every SQL template once)"),
    "stored_bytes_ratio": ("ratio", "bytes of the committed snapshot / "
                           "JSONL bytes it was synced from"),
    "peak_rss_mb": ("MB", "peak resident memory of the benchmark JVM"),
    "success_rate": ("ratio", "operations whose answer passed its check / "
                     "operations attempted"),
}

# name: (unit, feeds end-to-end metric, on workload, definition). Values
# are per timed operation of the kind named: per resync cycle, per SQL
# operation or per search operation; 0 where the run has none. The cold
# cycle and the search latency are user-facing, but one cold cycle per
# run and the search rounds spread across runs on a shared host by more
# than the largest bound allowed (0.25), so they are reported here,
# without a bound, instead of gating a change.
PER_LAYER = {
    "sync.cold_freshness_s": ("s", "freshness_s", "all",
                              "first readEnvelopes -> toParquet -> first "
                              "query cycle of a fresh session"),
    "sources.search_ms": ("ms", "-", "all",
                          "parseQuery + evaluateQuery + collect: median "
                          "over the timed rounds of a round's mean"),
    "sources.read_s": ("s", "freshness_s", "sync_bulk",
                       "readEnvelopes (JSON schema inference) per cycle"),
    "sources.input_bytes": ("bytes", "freshness_s", "sync_bulk",
                            "JSONL bytes the sources and ingest jobs read "
                            "per cycle"),
    "sources.search_parse_us": ("us", "search_ms", "all",
                                "parseQuery per search"),
    "sources.search_jobs": ("count", "search_ms", "all",
                            "Spark jobs per search"),
    "sources.search_input_bytes": ("bytes", "search_ms", "all",
                                   "bytes read per search"),
    "model.compile_ms": ("ms", "setup_s", "sync_many_kinds",
                         "ModelJson.fromJson + ModelCompiler.tables"),
    "model.tables": ("count", "freshness_s", "sync_many_kinds",
                     "tables a sync writes"),
    "model.useful_table_ratio": ("ratio", "freshness_s", "sync_many_kinds",
                                 "non-empty tables / tables written"),
    "ingest.stage_s": ("s", "freshness_s", "sync_bulk",
                       "wall time covered by ingest jobs per cycle"),
    "ingest.task_cpu_s": ("s", "freshness_s", "sync_bulk",
                          "executor CPU of ingest jobs per cycle"),
    "ingest.shuffle_write_bytes": ("bytes", "freshness_s", "sync_bulk",
                                   "shuffle bytes written by ingest jobs "
                                   "per cycle"),
    "sink.write_s": ("s", "freshness_s", "sync_many_kinds",
                     "wall time covered by sink jobs per cycle"),
    "sink.jobs": ("count", "freshness_s", "sync_many_kinds",
                  "sink jobs per cycle"),
    "sink.tasks": ("count", "freshness_s", "sync_many_kinds",
                   "sink tasks per cycle"),
    "sink.sched_wait_s": ("s", "freshness_s", "sync_many_kinds",
                          "sum over sink stages of submit -> first task, "
                          "per cycle"),
    "sink.output_files": ("count", "sql_ms", "all",
                          "files in the committed snapshot"),
    "sink.output_bytes": ("bytes", "stored_bytes_ratio", "sync_bulk",
                          "bytes sink tasks wrote per cycle"),
    "sink.catalog_files_discovered": ("count", "freshness_s",
                                      "sync_many_kinds",
                                      "files listed while registering the "
                                      "catalog, per cycle"),
    "sync.driver_gap_s": ("s", "freshness_s", "sync_many_kinds",
                          "toParquet wall time outside every job, per cycle"),
    "sync.core_busy_ratio": ("ratio", "freshness_s", "sync_bulk",
                             "task time / (toParquet wall time x cores)"),
    "query.plan_ms": ("ms", "sql_ms", "all",
                      "executeSql call -> first job, per SQL operation"),
    "query.exec_ms": ("ms", "sql_ms", "all",
                      "first job -> rows collected, per SQL operation"),
    "query.jobs": ("count", "sql_ms", "all",
                   "Spark jobs per SQL operation"),
    "query.files_read": ("count", "sql_ms", "all",
                         "files the scans read per SQL operation"),
    "spark.gc_s": ("s", "freshness_s", "sync_bulk",
                   "JVM GC time per timed operation"),
    "spark.spill_bytes": ("bytes", "freshness_s", "sync_bulk",
                          "bytes spilled per timed operation"),
    "spark.failed_tasks": ("count", "success_rate", "all",
                           "failed tasks per timed operation"),
    "spark.task_cpu_s": ("s", "freshness_s", "sync_bulk",
                         "executor CPU per timed operation"),
    "spark.codegen_compiles": ("count", "freshness_s", "all",
                               "whole-stage codegen compiles per timed "
                               "operation"),
    "spark.codegen_compiles_cold": ("count", "cold_freshness_s", "all",
                                    "codegen compiles in the cold cycle"),
    "trace.unattributed_ratio": ("ratio", "-", "all",
                                 "job time of timed operations no layer "
                                 "claims / all their job time"),
    "trace.freshness_s": ("s", "freshness_s", "sync_*",
                          "freshness_s of the traced run (minus the "
                          "untraced one: tracing overhead)"),
    "trace.sql_ms": ("ms", "sql_ms", "all",
                     "sql_ms of the traced run (minus the untraced one: "
                     "tracing overhead)"),
}


def _timed(rec, kind):
    return [o for o in rec["ops"] if o["kind"] == kind and o["phase"] == "timed"]


def round_means_ms(ops):
    """Mean latency of each round, in ms. A round holds every template of
    the sequence once, so its mean weighs the templates alike however
    far apart their latencies are."""
    rounds = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o["wall_s"] * 1e3)
    return [sum(v) / len(v) for _, v in sorted(rounds.items())]


def end_to_end(rec, expected, setups, attempted, failed, stored):
    cold = [o for o in rec["ops"] if o["kind"] == "cycle" and o["phase"] == "cold"]
    cycles = [o["wall_s"] for o in _timed(rec, "cycle")]
    sql = round_means_ms(_timed(rec, "sql"))
    search = round_means_ms(_timed(rec, "search"))
    snap = [o for o in rec["ops"] if o["kind"] == "snapshot"][-1]
    values = {
        "setup_s": median(setups),
        "cold_freshness_s": cold[0]["wall_s"],
        "freshness_s": median(cycles),
        "sql_ms": median(sql),
        "search_ms": median(search),
        "stored_bytes_ratio":
            stored["bytes"] / expected["input_bytes"][snap["variant"]],
        "peak_rss_mb": rec["peak_rss_kb"] / 1024,
        "success_rate": (attempted - failed) / attempted,
    }
    samples = {"setup_s": setups, "freshness_s": cycles, "sql_ms": sql,
               "search_ms": search}
    return values, samples


def per_layer(rec, expected, stored, e2e):
    tr = Trace(rec)
    cycles = _timed(rec, "cycle")
    sqls = _timed(rec, "sql")
    searches = _timed(rec, "search")
    cores = rec["cores"]

    def per(ops, f):
        return sum(f(o) for o in ops) / len(ops) if ops else 0.0

    def layer_jobs(op, layer):
        return [j for j in tr.jobs_under(op["span"]) if j["layer"] == layer]

    def covered_s(jobs):
        return union_ms([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3

    def stage_sum(jobs, key):
        return sum(st.get(key, 0) for st in tr.stages_of(jobs))

    def child_s(op, name):
        s = tr.child(op["span"], name)
        return s["dur_s"] if s else 0.0

    def counter(op, key):
        return tr.spans[op["span"]].get("counters", {}).get(key, 0)

    def gap(op):
        s = tr.child(op["span"], "toParquet")
        jobs = tr.jobs_under(s["id"])
        lo, hi = s["start_ms"], s["start_ms"] + s["dur_s"] * 1e3
        return s["dur_s"] - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1e3

    def busy(op):
        s = tr.child(op["span"], "toParquet")
        task_s = stage_sum(tr.jobs_under(s["id"]), "task_ms") / 1e3
        return task_s / (s["dur_s"] * cores)

    def query_spans():
        for o in cycles:
            yield tr.child(o["span"], "firstQuery")
        for o in sqls:
            yield tr.child(o["span"], "executeSql")

    def plan_ms(s):
        jobs = tr.jobs_under(s["id"])
        first = min((j["start_ms"] for j in jobs), default=None)
        return (first - s["start_ms"]) if first is not None else s["dur_s"] * 1e3

    qspans = list(query_spans())
    timed = cycles + sqls + searches
    all_jobs = [j for o in timed for j in tr.jobs_under(o["span"])]
    job_ms = sum(j["end_ms"] - j["start_ms"] for j in all_jobs)
    lost_ms = sum(j["end_ms"] - j["start_ms"] for j in all_jobs
                  if j["layer"] in (None, "other"))
    cold = [o for o in rec["ops"] if o["kind"] == "cycle" and o["phase"] == "cold"][0]
    snap = [o for o in rec["ops"] if o["kind"] == "snapshot"][-1]
    counts = snap.get("row_counts", {})
    return {
        "sources.read_s": per(cycles, lambda o: child_s(o, "readEnvelopes")),
        "sources.input_bytes": per(cycles, lambda o: stage_sum(
            layer_jobs(o, "sources") + layer_jobs(o, "ingest"), "input_bytes")),
        "sources.search_parse_us": per(searches, lambda o: child_s(
            o, "parseQuery") * 1e6),
        "sources.search_jobs": per(searches, lambda o: len(
            tr.jobs_under(o["span"]))),
        "sources.search_input_bytes": per(searches, lambda o: stage_sum(
            tr.jobs_under(o["span"]), "input_bytes")),
        "model.compile_ms": rec["model_compile_ms"],
        "model.tables": len(rec["model_tables"]),
        "model.useful_table_ratio":
            sum(1 for c in counts.values() if c > 0) / max(1, len(counts)),
        "ingest.stage_s": per(cycles, lambda o: covered_s(layer_jobs(o, "ingest"))),
        "ingest.task_cpu_s": per(cycles, lambda o: stage_sum(
            layer_jobs(o, "ingest"), "cpu_ns") / 1e9),
        "ingest.shuffle_write_bytes": per(cycles, lambda o: stage_sum(
            layer_jobs(o, "ingest"), "shuffle_write_bytes")),
        "sink.write_s": per(cycles, lambda o: covered_s(layer_jobs(o, "sink"))),
        "sink.jobs": per(cycles, lambda o: len(layer_jobs(o, "sink"))),
        "sink.tasks": per(cycles, lambda o: stage_sum(layer_jobs(o, "sink"), "tasks")),
        "sink.sched_wait_s": per(cycles, lambda o: sum(
            max(0, st["first_launch_ms"] - st["submitted_ms"])
            for st in tr.stages_of(layer_jobs(o, "sink"))
            if st["first_launch_ms"] >= 0) / 1e3),
        "sink.output_files": stored["files"],
        "sink.output_bytes": per(cycles, lambda o: stage_sum(
            layer_jobs(o, "sink"), "output_bytes")),
        "sink.catalog_files_discovered": per(cycles, lambda o: counter(
            o, "files_discovered")),
        "sync.driver_gap_s": per(cycles, gap),
        "sync.core_busy_ratio": per(cycles, busy),
        "query.plan_ms": median([plan_ms(s) for s in qspans]),
        "query.exec_ms": median([s["dur_s"] * 1e3 - plan_ms(s) for s in qspans]),
        "query.jobs": per(qspans, lambda s: len(tr.jobs_under(s["id"]))),
        "query.files_read": per(cycles + sqls, lambda o: o.get("files_read", 0)),
        "spark.gc_s": per(timed, lambda o: counter(o, "jvm_gc_ms") / 1e3),
        "spark.spill_bytes": per(timed, lambda o: stage_sum(
            tr.jobs_under(o["span"]), "spill_bytes")),
        "spark.failed_tasks": per(timed, lambda o: stage_sum(
            tr.jobs_under(o["span"]), "failed_tasks")),
        "spark.task_cpu_s": per(timed, lambda o: stage_sum(
            tr.jobs_under(o["span"]), "cpu_ns") / 1e9),
        "spark.codegen_compiles": per(timed, lambda o: counter(o, "codegen_compiles")),
        "spark.codegen_compiles_cold": counter(cold, "codegen_compiles"),
        "trace.unattributed_ratio": lost_ms / job_ms if job_ms else 0.0,
        "sync.cold_freshness_s": e2e["cold_freshness_s"],
        "sources.search_ms": e2e["search_ms"],
        "trace.freshness_s": e2e["freshness_s"],
        "trace.sql_ms": e2e["sql_ms"],
    }


def series(rec):
    """Per-round times of each window, warm-up rounds included: cycle
    seconds, and the mean ms of each SQL or search round."""
    out = {"cycle_s": [round(o["wall_s"], 3) for o in rec["ops"]
                       if o["kind"] == "cycle"]}
    for kind in ("sql", "search"):
        out[kind + "_ms"] = [round(x, 1) for x in round_means_ms(
            [o for o in rec["ops"] if o["kind"] == kind])]
    return out


def attribution(rec):
    """What a traced run says about where cycle time goes: each layer's
    share of the timed cycles' wall time (time its jobs cover), the
    driver gap's share, and the median self time of each span name."""
    tr = Trace(rec)
    cycles = _timed(rec, "cycle")
    wall = sum(o["wall_s"] for o in cycles)
    shares = {}
    for layer in LAYERS:
        shares[layer] = sum(union_ms(
            [(j["start_ms"], j["end_ms"]) for j in tr.jobs_under(o["span"])
             if j["layer"] == layer]) for o in cycles) / 1e3 / wall
    gap = 0.0
    for o in cycles:
        s = tr.child(o["span"], "toParquet")
        jobs = tr.jobs_under(s["id"])
        gap += s["dur_s"] - union_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                                     s["start_ms"],
                                     s["start_ms"] + s["dur_s"] * 1e3) / 1e3
    shares["driver_gap"] = gap / wall
    selfs = {}
    for o in _timed(rec, "cycle") + _timed(rec, "sql") + _timed(rec, "search"):
        for sid in tr.subtree(o["span"]):
            selfs.setdefault(tr.spans[sid]["name"], []).append(self_time_s(tr, sid))
    return {"cycle_share": {k: round(v, 4) for k, v in shares.items()},
            "self_s": {k: round(median(v), 4) for k, v in selfs.items()}}


def summarize(args, rec, expected, setups, attempted, failed, stored, env):
    """(metrics for the result line, report line)."""
    values, samples = end_to_end(rec, expected, setups, attempted, failed, stored)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "values": values,
        "samples": {k: len(v) for k, v in samples.items()},
        "p90": {k: p90(v) for k, v in samples.items() if p90(v) is not None},
        "series": series(rec),
        "known_defects": rec["known_defects"],
        "env": env,
    }
    if args.trace:
        layer = per_layer(rec, expected, stored, values)
        report.update(attribution(rec))
        report["per_layer_feeds"] = {k: {"unit": u, "feeds": f, "on": w}
                                     for k, (u, f, w, _) in PER_LAYER.items()}
        result = {k: {"value": layer[k], "unit": PER_LAYER[k][0]}
                  for k in PER_LAYER}
    else:
        result = {k: {"value": values[k], "unit": END_TO_END[k][0]}
                  for k in END_TO_END}
    return result, report
