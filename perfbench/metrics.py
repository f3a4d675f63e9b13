"""Checks, statistics and per-layer attribution over a harness record.

The harness writes spans (one per public call, with parent links), the
operations with their answers, and, in a traced run, Spark's job and
stage records. Everything here is a pure function of those records and
the generator's expected.json, so it is unit-tested without Spark.
"""

import math
import statistics

# --- statistics -----------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """The 90th percentile, or None unless at least 10 samples lie beyond
    it (a p90 of fewer samples does not repeat)."""
    s = sorted(xs)
    k = math.ceil(0.9 * len(s))  # nearest rank: the p90 is the k-th value
    if len(s) - k < 10:
        return None
    return s[k - 1]


# --- checks -----------------------------------------------------------------


def check_op(op, expected):
    """None if the operation's outputs match the generator, else why not."""
    if "error" in op:
        return op["error"]
    kind = op["kind"]
    v = op.get("variant", 0)
    if kind == "cycle":
        want = expected["first_query"]["expect"][v]
        if (op["rows"], op["digest"]) != (want["rows"], want["digest"]):
            return "first query answer differs from the generator's"
        if op["tables"] != expected["tables"]:
            return "synced table set differs from the generator's"
        return None
    if kind == "snapshot":
        if op["row_counts"] != expected["row_counts"][v]:
            bad = sorted(t for t in set(op["row_counts"]) |
                         set(expected["row_counts"][v])
                         if op["row_counts"].get(t) !=
                         expected["row_counts"][v].get(t))
            return "row counts differ for " + ", ".join(bad[:5])
        return None
    qs = expected["sql"] + expected["search"]
    want = qs[op["index"]]["expect"][v]
    if (op["rows"], op["digest"]) != (want["rows"], want["digest"]):
        return "%s answer differs from the generator's" % op["name"]
    return None


# --- attribution ------------------------------------------------------------

# The first graft frame on a job's call site names its layer.
FRAME_LAYERS = [
    ("graft.Sync", "ingest"),          # Sync.scala: the staging scans
    ("graft.ingest.", "ingest"),
    ("graft.sink.", "sink"),           # TableSink, SnapshotSwap
    ("graft.sources.", "sources"),     # GraphSource, ModelJson
    ("graft.Tables", "query"),
    ("graft.model.", "model"),
]
# A job with no graft frame (e.g. collect() called by the benchmark on a
# DataFrame the program returned) belongs to the public call it ran in.
SPAN_LAYERS = {"readEnvelopes": "sources", "parseQuery": "sources",
               "evaluateQuery": "sources", "executeSql": "query",
               "firstQuery": "query", "toParquet": "sync"}


def frame_class(line):
    """Class of one call-site frame, without `$` suffixes, or None."""
    line = line.strip()
    if line.startswith("at "):
        line = line[3:]
    head = line.split("(", 1)[0]
    if "." not in head:
        return None
    return head.rsplit(".", 1)[0].split("$", 1)[0]


def layer_of_callsite(details):
    """Layer of the first graft frame in a call site, or None."""
    for line in details.splitlines():
        cls = frame_class(line)
        if not cls or not cls.startswith("graft."):
            continue
        for prefix, layer in FRAME_LAYERS:
            if cls == prefix or (prefix.endswith(".") and cls.startswith(prefix)):
                return layer
        return "other"
    return None


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped."""
    iv = sorted((max(a, lo) if lo is not None else a,
                 min(b, hi) if hi is not None else b) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Trace:
    """Spans, jobs and stages of one traced run, with each job's layer."""

    def __init__(self, rec):
        self.spans = {s["id"]: s for s in rec["spans"]}
        self.children = {}
        for s in rec["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.stages = {s["id"]: s for s in rec.get("stages", [])}
        self.executions = rec.get("executions", {})
        self.jobs = rec.get("jobs", [])
        for j in self.jobs:
            j["layer"] = self._job_layer(j)

    def _job_layer(self, job):
        """The first graft frame of the job's call site, else of its SQL
        execution's (jobs Spark submits from its own threads), else the
        layer of the public call it ran in."""
        for sid in job["stages"]:
            st = self.stages.get(sid)
            if st and st.get("details"):
                layer = layer_of_callsite(st["details"])
                if layer:
                    return layer
        details = self.executions.get(job.get("execution", ""))
        return (details and layer_of_callsite(details)) or self._span_layer(job)

    def _span_layer(self, job):
        sid = int(job["span"]) if job["span"] else 0
        while sid:
            layer = SPAN_LAYERS.get(self.spans[sid]["name"])
            if layer:
                return layer
            sid = self.spans[sid]["parent"]
        return None

    def subtree(self, sid):
        out, todo = set(), [sid]
        while todo:
            s = todo.pop()
            out.add(s)
            todo.extend(self.children.get(s, ()))
        return out

    def jobs_under(self, sid):
        ids = self.subtree(sid)
        return [j for j in self.jobs if j["span"] and int(j["span"]) in ids]

    def stages_of(self, jobs):
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                # Skipped stages (reused shuffle output) never ran.
                st = self.stages.get(sid)
                if st and sid not in seen and st.get("submitted_ms", -1) >= 0:
                    seen.add(sid)
                    yield st

    def child(self, sid, name):
        for c in self.children.get(sid, ()):
            if self.spans[c]["name"] == name:
                return self.spans[c]
        return None


def self_time_s(trace, sid):
    """A span's duration minus the part of it its child spans cover."""
    s = trace.spans[sid]
    start = s["start_ms"]
    end = start + s["dur_s"] * 1e3
    kids = [(trace.spans[c]["start_ms"],
             trace.spans[c]["start_ms"] + trace.spans[c]["dur_s"] * 1e3)
            for c in trace.children.get(sid, ())]
    return max(0.0, s["dur_s"] - union_ms(kids, start, end) / 1e3)
