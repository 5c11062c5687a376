"""Per-layer metrics of the traced passes.

Spark's layers come from the session event log: stage and task aggregates
through tez_spark.observability.load_history, plus the three things it does
not parse, read here from the same lines: job intervals, executor
deserialize time, and the Python-worker SQL metrics ("time to run/start
Python workers", "data sent to/returned from Python workers"), which
arrive as task accumulables. The benchmark's own spans give the Python
layers and the windows that attribute Spark's work to one pass and op.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from datetime import datetime

from perfbench.stats import Span, nest, self_times, union_intervals

PYTHON_METRICS = {
    "time to run Python workers": "functions.python_run_ms",
    "time to start Python workers": "functions.python_start_ms",
    "data sent to Python workers": "functions.python_bytes_sent",
    "data returned from Python workers": "functions.python_bytes_returned",
}

# The per_layer metric names, in report order. Every traced run prints all
# of them; a layer a workload does not use reads 0.
PER_LAYER = (
    "session.start_ms", "session.warmup_ms",
    "plans.build_ms", "plans.py4j_calls", "plans.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.job_ms",
    "scheduler.driver_gap_ms", "scheduler.ms_per_job",
    "executor.run_ms", "executor.cpu_ms", "executor.deserialize_ms", "executor.gc_ms",
    "executor.slot_util", "executor.shuffle_write_bytes", "executor.shuffle_read_bytes",
    "executor.fetch_wait_ms", "executor.spill_bytes",
    "functions.python_run_ms", "functions.python_start_ms",
    "functions.python_bytes_sent", "functions.python_bytes_returned",
    "operators.artifact_calls", "operators.artifact_ms", "operators.persist_calls",
    "sources.load_calls", "sources.load_ms", "sources.bytes_written",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.store_bytes", "streaming.store_files",
    "self.plans_ms", "self.sources_ms", "self.operators_ms", "self.action_ms",
    "self.jobs_ms", "self.streaming_ms", "self.trace_ms", "self.unexplained_ms",
    "trace.overhead",
)

# Span layers whose self time is reported, and the metric each feeds.
# "pass" and "op" self time is what no layer explains.
SELF_METRICS = {
    "plans": "self.plans_ms", "sources": "self.sources_ms",
    "operators": "self.operators_ms", "action": "self.action_ms",
    "jobs": "self.jobs_ms", "streaming": "self.streaming_ms",
    "trace": "self.trace_ms", "pass": "self.unexplained_ms",
    "op": "self.unexplained_ms",
}


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def read_spark_log(path: str) -> dict:
    """Stage rows via load_history plus jobs, per-stage deserialize time
    and per-stage Python metrics from the raw lines."""
    from tez_spark.observability import load_history

    hist = load_history(path)
    jobs: dict[int, dict] = {}
    deser: dict[int, int] = defaultdict(int)
    python: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            kind = line[11:60]
            if "JobStart" in kind:
                ev = json.loads(line)
                jobs[ev["Job ID"]] = {
                    "start_ms": ev["Submission Time"],
                    "end_ms": None,
                    "stage_ids": ev.get("Stage IDs") or [],
                }
            elif "JobEnd" in kind:
                ev = json.loads(line)
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif "TaskEnd" in kind:
                ev = json.loads(line)
                sid = ev["Stage ID"]
                metrics = ev.get("Task Metrics") or {}
                deser[sid] += int(metrics.get("Executor Deserialize Time", 0))
                for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                    name = PYTHON_METRICS.get(acc.get("Name"))
                    if name:
                        python[sid][name] += int(acc.get("Update") or 0)
    return {
        "stages": {s["stage_id"]: s for s in hist["stages"]},
        "jobs": {j: v for j, v in jobs.items() if v["end_ms"] is not None},
        "deserialize_ms": deser,
        "python": python,
    }


def trigger_spans(batches: list[dict], op0: int) -> list[Span]:
    """One streaming.trigger span per micro-batch progress record."""
    out = []
    for i, b in enumerate(batches):
        start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = b["duration_ms"].get("triggerExecution", 0) / 1000.0
        out.append(
            Span("streaming.trigger", "streaming", start, start + dur, op0 + i,
                 attrs=dict(b["duration_ms"]))
        )
    return out


def _chain(spans: list[Span], i: int | None) -> list[int]:
    """Index i and the indices of its ancestors."""
    out = []
    while i is not None:
        out.append(i)
        i = spans[i].parent
    return out


def pass_metrics(spans: list[Span], log: dict, cpus: int) -> dict[str, float]:
    """Layer metrics of ONE traced pass. `spans` holds the pass span, its
    Python spans and trigger spans; jobs from `log` that start inside the
    pass are added here as `jobs` spans (overlapping jobs under one parent
    merged into one span, so siblings stay disjoint and the self times of
    the tree sum to the pass wall)."""
    root = next(s for s in spans if s.layer == "pass")
    lo_ms, hi_ms = root.start * 1000, root.end * 1000
    jobs = {
        jid: j for jid, j in log["jobs"].items() if lo_ms - 1 <= j["start_ms"] <= hi_ms + 1
    }
    # Attribute each job to the innermost span holding it (JVM stamps are
    # whole ms, hence the slack).
    job_spans = {
        jid: Span("spark.job", "jobs", j["start_ms"] / 1000.0, j["end_ms"] / 1000.0)
        for jid, j in jobs.items()
    }
    tree = list(spans) + list(job_spans.values())
    nest(tree, slack=0.002)
    owner = {jid: s.parent for jid, s in job_spans.items()}
    chains = {
        jid: [tree[i] for i in _chain(tree, owner[jid])] for jid in jobs
    }

    def is_in(jid: int, layer: str) -> bool:
        return any(s.layer == layer for s in chains[jid])

    action_layer = "streaming" if any(s.layer == "streaming" for s in spans) else "action"
    act_jobs = [jid for jid in jobs if is_in(jid, action_layer)]
    build_jobs = [jid for jid in jobs if is_in(jid, "plans")]

    m: dict[str, float] = defaultdict(float)
    m["plans.build_jobs"] = len(build_jobs)
    m["scheduler.jobs"] = len(act_jobs)
    act_stage_ids = {sid for jid in act_jobs for sid in jobs[jid]["stage_ids"]}
    act_stages = [log["stages"][sid] for sid in act_stage_ids if sid in log["stages"]]
    m["scheduler.stages"] = len(act_stages)
    m["scheduler.tasks"] = sum(s["NUM_COMPLETED_TASKS"] for s in act_stages)
    # Driver gap: each action's wall minus the union of its own jobs.
    for s in spans:
        if s.layer != action_layer:
            continue
        mine = [(job_spans[j].start, job_spans[j].end) for j in act_jobs
                if any(a is s for a in chains[j])]
        in_jobs = sum(min(e, s.end) - max(b, s.start) for b, e in union_intervals(mine))
        m["scheduler.job_ms"] += 1000.0 * in_jobs
        m["scheduler.driver_gap_ms"] += 1000.0 * (s.duration - in_jobs)
    if m["scheduler.jobs"]:
        m["scheduler.ms_per_job"] = m["scheduler.driver_gap_ms"] / m["scheduler.jobs"]

    # Executor and Python-worker work: every stage of every job in the pass.
    all_stage_ids = {sid for j in jobs.values() for sid in j["stage_ids"]}
    stages = [log["stages"][sid] for sid in all_stage_ids if sid in log["stages"]]
    m["executor.run_ms"] = sum(s["EXECUTOR_RUN_TIME_MS"] for s in stages)
    m["executor.cpu_ms"] = sum(s["EXECUTOR_CPU_TIME_NS"] for s in stages) / 1e6
    m["executor.deserialize_ms"] = sum(log["deserialize_ms"].get(sid, 0) for sid in all_stage_ids)
    m["executor.gc_ms"] = sum(s["GC_TIME_MS"] for s in stages)
    m["executor.shuffle_write_bytes"] = sum(s["SHUFFLE_BYTES_WRITTEN"] for s in stages)
    m["executor.shuffle_read_bytes"] = sum(s["SHUFFLE_BYTES"] for s in stages)
    m["executor.fetch_wait_ms"] = sum(s["SHUFFLE_FETCH_WAIT_MS"] for s in stages)
    m["executor.spill_bytes"] = sum(
        s["SPILLED_BYTES_MEMORY"] + s["SPILLED_BYTES_DISK"] for s in stages
    )
    m["sources.bytes_written"] = sum(s["OUTPUT_BYTES"] for s in stages)
    busy_ms = 1000.0 * sum(
        e - b for b, e in union_intervals(
            (j["start_ms"] / 1000.0, j["end_ms"] / 1000.0) for j in jobs.values()
        )
    )
    if busy_ms > 0:
        m["executor.slot_util"] = m["executor.run_ms"] / (busy_ms * cpus)
    for sid in all_stage_ids:
        for name, v in log["python"].get(sid, {}).items():
            m[name] += v

    for s in spans:
        if s.name == "plans.build":
            m["plans.build_ms"] += 1000.0 * s.duration
            m["plans.py4j_calls"] += s.attrs.get("py4j_calls", 0)
        elif s.name == "sources.load":
            m["sources.load_calls"] += 1
            m["sources.load_ms"] += 1000.0 * s.duration
        elif s.name == "operators.artifact":
            m["operators.artifact_calls"] += 1
            m["operators.artifact_ms"] += 1000.0 * s.duration
        elif s.name == "operators.persist":
            m["operators.persist_calls"] += 1
        elif s.name == "trace.catalyst":
            for phase, ms in s.attrs.get("phases", {}).items():
                m[f"catalyst.{phase}_ms"] += ms
        elif s.name == "streaming.trigger":
            m["streaming.batches"] += 1
            m["streaming.trigger_ms"] += s.attrs.get("triggerExecution", 0)
            m["streaming.add_batch_ms"] += s.attrs.get("addBatch", 0)
            m["streaming.wal_commit_ms"] += s.attrs.get("walCommit", 0)
            # a micro-batch plans inside Spark, out of the benchmark's
            # reach; its planning time is the only Catalyst figure
            m["catalyst.planning_ms"] += s.attrs.get("queryPlanning", 0)
    by_owner: dict[int | None, list[tuple[float, float]]] = defaultdict(list)
    for jid, js in job_spans.items():
        by_owner[owner[jid]].append((js.start, js.end))
    timed = list(spans) + [
        Span("spark.jobs", "jobs", b, e)
        for segs in by_owner.values()
        for b, e in union_intervals(segs)
    ]
    nest(timed, slack=0.002)
    for layer, sec in self_times(timed).items():
        if layer in SELF_METRICS:
            m[SELF_METRICS[layer]] += 1000.0 * sec
    return dict(m)
