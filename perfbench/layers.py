"""Per-layer metrics from a traced run's spans.jsonl.

The harness writes its own spans (run, pass, call, construct, collect,
check, probe) and the SparkListener's job, job_end, stage and task
events. This module links every job to the span that launched it and
derives the per-layer metrics named in perfbench/README.md.
"""
import json
import re
import statistics

MB = 1048576.0
CORES = 4
# Listener times are whole milliseconds; harness spans are not.
SLACK_MS = 1.0
OWNER_KINDS = ("call", "check", "probe")

CALL_METRICS = ("wall_s", "construct_s", "jobs", "driver_s")
# (name, unit, better) of the per-layer metrics every workload yields.
# BENCHMARK.json lists exactly these. Per-call metrics and
# plans.asof_native_ratio exist only on the workloads that make those
# calls, so they are printed and saved beside the spans instead.
PER_LAYER = (
    ("calls.construct_s", "s", "lower"), ("calls.collect_s", "s", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_busy_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"), ("spark.task_gc_s", "s", "lower"),
    ("spark.shuffle_mb", "MB", "lower"), ("spark.spill_mb", "MB", "lower"),
    ("spark.sched_wait_s", "s", "lower"), ("spark.driver_s", "s", "lower"),
    ("spark.slot_util", "fraction", "higher"), ("spark.jobs_outliving_call", "count", "lower"),
    ("sources.write_mb", "MB", "lower"), ("sources.write_amp", "ratio", "lower"),
    ("harness.pass_self_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"), ("jvm.heap_after_gc_mb", "MB", "lower"),
    ("jvm.codecache_mb", "MB", "lower"), ("jvm.threads_end", "count", "lower"),
    ("functions.minhash_ns_per_doc", "ns", "lower"), ("functions.dot_ns_per_pair", "ns", "lower"),
    ("functions.nearest_cells_ns_per_vec", "ns", "lower"),
    ("functions.topk_ns_per_row", "ns", "lower"))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        a = max(a, reach)
        total += b - a
        reach = b
    return total


def self_time(span, children):
    """A span's duration minus the part its children cover, in ms."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def call_key(span):
    """Metric key of a call span: serve batches share one key."""
    return "%s.%s" % (span["layer"], re.sub(r"_b\d+$", "", span["name"]))


class Trace:
    def __init__(self, records):
        self.spans = {r["id"]: r for r in records if r["kind"] not in
                      ("job", "job_end", "stage", "task")}
        self.jobs = {r["job"]: dict(r) for r in records if r["kind"] == "job"}
        for r in records:
            if r["kind"] == "job_end" and r["job"] in self.jobs:
                self.jobs[r["job"]]["end_ms"] = r["end_ms"]
        self.stages = {}
        for r in records:
            if r["kind"] == "stage":
                self.stages.setdefault(r["stage"], []).append(r)
        self.tasks = [r for r in records if r["kind"] == "task"]
        # a stage runs in the first job that lists it; later jobs skip it
        self.stage_job = {}
        for j in sorted(self.jobs):
            for s in self.jobs[j]["stages"]:
                self.stage_job.setdefault(s, j)
        self.owner, self.how = {}, {}
        for j, job in self.jobs.items():
            self.owner[j], self.how[j] = self._attribute(job)

    def _attribute(self, job):
        """(span id, 'group' | 'window' | None) for one job."""
        t = job["start_ms"]
        m = re.match(r"perfbench-(\d+)$", job.get("group") or "")
        if m:
            s = self.spans.get(int(m.group(1)))
            # a pool thread created under an earlier call keeps that
            # call's group; the time window decides then
            if s and s["start_ms"] - SLACK_MS <= t <= s["end_ms"] + SLACK_MS:
                return s["id"], "group"
        owners = [s for s in self.spans.values() if s["kind"] in OWNER_KINDS]
        inside = [s for s in owners if s["start_ms"] - SLACK_MS <= t <= s["end_ms"] + SLACK_MS]
        if inside:
            return max(inside, key=lambda s: s["start_ms"])["id"], "window"
        before = [s for s in owners if s["start_ms"] <= t]
        if before:  # launched after its call returned
            return max(before, key=lambda s: s["start_ms"])["id"], "window"
        return None, None

    def attribution(self):
        by = {"group": 0, "window": 0, None: 0}
        for h in self.how.values():
            by[h] += 1
        return {"jobs_seen": len(self.jobs), "by_group": by["group"],
                "by_window": by["window"], "unattributed": by[None]}

    def children(self, span_id, kind):
        return [s for s in self.spans.values() if s["parent"] == span_id and s["kind"] == kind]

    def timed_passes(self):
        return sorted((s for s in self.spans.values()
                       if s["kind"] == "pass" and not s["name"].startswith("warmup")),
                      key=lambda s: s["start_ms"])

    def jobs_of(self, span_ids):
        return [j for j, o in self.owner.items() if o in span_ids]

    def tasks_of(self, jobs):
        jobs = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def call_metrics(self, call):
        jobs = self.jobs_of({call["id"]})
        tasks = self.tasks_of(jobs)
        wall = call["end_ms"] - call["start_ms"]
        busy = covered([(t["start_ms"], t["end_ms"]) for t in tasks],
                       call["start_ms"], call["end_ms"])
        cons = self.children(call["id"], "construct")
        late = call["end_ms"] + SLACK_MS
        return {
            "wall_s": wall / 1000.0,
            "construct_s": sum(c["end_ms"] - c["start_ms"] for c in cons) / 1000.0,
            "jobs": len(jobs),
            "driver_s": (wall - busy) / 1000.0,
            "outliving": sum(1 for j in jobs if self.jobs[j].get("end_ms", float("inf")) > late),
        }

    def pass_metrics(self, p, input_bytes):
        calls = self.children(p["id"], "call")
        per_call = {}
        for c in calls:
            m = self.call_metrics(c)
            acc = per_call.setdefault(call_key(c), dict.fromkeys(m, 0.0))
            for k, v in m.items():
                acc[k] += v
        jobs = self.jobs_of({c["id"] for c in calls})
        tasks = self.tasks_of(jobs)
        stage_ids = {s for j in jobs for s in self.jobs[j]["stages"]
                     if self.stage_job.get(s) == j and s in self.stages}
        first_launch = {}
        for t in tasks:
            s = t["stage"]
            first_launch[s] = min(first_launch.get(s, t["start_ms"]), t["start_ms"])
        wait = 0.0
        for s in stage_ids:
            submit = min((a["submit_ms"] for a in self.stages[s] if a["submit_ms"] is not None),
                         default=None)
            if submit is not None and s in first_launch:
                wait += max(0.0, first_launch[s] - submit)
        wall = p["end_ms"] - p["start_ms"]
        busy = sum(t["end_ms"] - t["start_ms"] for t in tasks) / 1000.0
        written = sum(t["output_b"] for t in tasks)
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "spark.task_busy_s": busy,
            "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.task_gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
            "spark.shuffle_mb": sum(t["shuffle_write_b"] for t in tasks) / MB,
            "spark.spill_mb": sum(t["spill_b"] for t in tasks) / MB,
            "spark.sched_wait_s": wait / 1000.0,
            "spark.driver_s": sum(m["driver_s"] for m in per_call.values()),
            "spark.slot_util": busy / (wall / 1000.0 * CORES),
            "spark.jobs_outliving_call": sum(m["outliving"] for m in per_call.values()),
            "sources.write_mb": written / MB,
            "sources.write_amp": written / input_bytes if input_bytes else 0.0,
            "harness.pass_self_s": self_time(p, calls) / 1000.0,
            "calls.construct_s": sum(m["construct_s"] for m in per_call.values()),
            "calls.collect_s": sum(m["wall_s"] - m["construct_s"] for m in per_call.values()),
        }
        walls = {k: m["wall_s"] for k, m in per_call.items()}
        if "operators.asof_join" in walls and "operators.asof_join_native" in walls:
            out["plans.asof_native_ratio"] = (walls["operators.asof_join_native"]
                                              / walls["operators.asof_join"])
        for key, m in per_call.items():
            for k in CALL_METRICS:
                out["%s.%s" % (key, k)] = m[k]
        return out


def per_layer(records, input_bytes, jvm_passes, threads_end, probes):
    """Median over timed passes of every per-layer metric the trace
    yields, plus the JVM readings and kernel probes.

    `input_bytes` lists each timed pass's input size, in pass order;
    `jvm_passes` the harness's per-pass JVM readings, likewise."""
    t = Trace(records)
    rows = [t.pass_metrics(p, b) for p, b in zip(t.timed_passes(), input_bytes)]
    keys = sorted({k for r in rows for k in r})
    out = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
    out["jvm.gc_s"] = statistics.median(p["gc_s"] for p in jvm_passes)
    out["jvm.heap_after_gc_mb"] = jvm_passes[-1]["heap_after_gc_mb"]
    out["jvm.codecache_mb"] = jvm_passes[-1]["codecache_mb"]
    out["jvm.threads_end"] = threads_end
    out.update(probes)
    return out, t.attribution()
