"""Engine benchmark: one seeded workload per run, end-to-end metrics with
tracing off (--trace 0) or per-layer metrics from a traced run (--trace 1).

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the repository root. Everything the run writes stays under
.perfbench/ there. The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}};
the line before it is the full report (run stamp, inputs, set-up parts,
per-pass walls, failed operations by name). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, layers, stats, workloads  # noqa: E402
from perfbench.tracing import NullTracer, Tracer  # noqa: E402

# No new pass starts after this many seconds of the run, whatever
# --seconds asks: the run must end well inside three minutes.
PASS_DEADLINE_S = 120.0

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith(".ms_per_job"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name in ("executor.slot_util", "trace.overhead"):
        return "ratio"
    return "count"


def measure(wl, seconds: float, tracer: Tracer | None = None):
    """Closed loop of whole passes until `seconds` have passed and at
    least wl.min_passes have run. With a tracer, passes run in blocks of
    untraced, traced, traced, untraced until `seconds` have passed, so JIT
    drift over the run cannot bias the tracing overhead. Returns (untraced
    pass walls, traced pass walls, operations)."""
    walls: dict[bool, list[float]] = {False: [], True: []}
    ops = []
    t0 = time.perf_counter()
    index = 0

    def more() -> bool:
        if tracer is not None:
            if index % 4:
                return True  # finish the block
            return time.perf_counter() - t0 < seconds and time.perf_counter() - START < PASS_DEADLINE_S
        if time.perf_counter() - START > PASS_DEADLINE_S:
            return False
        return time.perf_counter() - t0 < seconds or len(walls[False]) < wl.min_passes

    while index == 0 or more():
        traced = tracer is not None and index % 4 in (1, 2)
        if traced:
            tracer.install()
        try:
            wall, pass_ops = wl.run_pass(index, tracer if traced else NullTracer())
        finally:
            if traced:
                tracer.uninstall()
        walls[traced].append(wall)
        ops.extend(pass_ops)
        index += 1
    wl.check()
    for op in ops:
        if op.error is None and op.ms > 1000.0 * workloads.OP_TIMEOUT_S:
            op.error = f"timed out ({op.ms:.0f} ms)"
    return walls[False], walls[True], ops


def traced_layers(wl, tracer: Tracer, untraced_walls, traced_walls) -> dict:
    """Per-pass layer metrics (mean over the traced passes) plus set-up
    parts, store size and tracing overhead."""
    wl.wait_for_listeners()
    log = layers.read_spark_log(layers.event_log_file(wl.event_log_dir))
    per_pass = []
    roots = [i for i, s in enumerate(tracer.spans) if s.layer == "pass"]
    for i in roots:
        root = tracer.spans[i]
        mine = [s for s in tracer.spans
                if root.start - 0.002 <= s.start and s.end <= root.end + 0.002]
        per_pass.append(layers.pass_metrics(mine, log, wl.cpus))
    out = {name: 0.0 for name in layers.PER_LAYER}
    for name in out:
        vals = [m.get(name, 0.0) for m in per_pass]
        out[name] = sum(vals) / len(vals) if vals else 0.0
    out["session.start_ms"] = 1000.0 * wl.setup_parts["start_s"]
    out["session.warmup_ms"] = 1000.0 * wl.setup_parts["warmup_s"]
    sizes = getattr(wl, "store_sizes", [])
    if sizes:
        out["streaming.store_bytes"] = statistics.mean(b for b, _ in sizes)
        out["streaming.store_files"] = statistics.mean(f for _, f in sizes)
    out["trace.overhead"] = statistics.median(traced_walls) / statistics.median(untraced_walls)
    missing = [m for m in workloads.REQUIRED[wl.name] if not out[m]]
    if missing:
        raise RuntimeError(f"traced {wl.name} run recorded no calls for {missing}")
    return out


def summarize(ops, walls) -> dict:
    ms = [op.ms for op in ops]
    tail_q = stats.tail_percentile(len(ms))
    return {
        "pass_s": statistics.median(walls),
        "op_p50_ms": stats.percentile(ms, 50),
        "op_p90_ms": stats.percentile(ms, 90),
        "op_tail": {
            "q": tail_q,
            "ms": stats.percentile(ms, tail_q) if tail_q else None,
            "n": len(ms),
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("relational", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".perfbench", "runs")
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    settings = host.confine(work, ROOT)
    jiffies0 = host.cpu_jiffies()
    cpus = len(os.sched_getaffinity(0))
    wl = workloads.make(args.workload, args.seed, work, ROOT, cpus, event_log=bool(args.trace))
    tracer = Tracer() if args.trace else None

    with host.TreeMemory() as mem:
        try:
            setup_s = wl.setup()
            walls, t_walls, ops = measure(wl, args.seconds, tracer)
            report = {"setup_s": setup_s, **summarize(ops, walls)}
            if tracer is not None:
                report["traced"] = {"passes_s": t_walls}
                report["layers"] = traced_layers(wl, tracer, walls, t_walls)
            mem.sample()
            report["peak_rss_mb"] = mem.peak / 2**20
            report["stamp"] = host.stamp(cpus, settings, jiffies0)
        finally:
            procs = set(mem.procs)
            if wl.spark is not None:
                host.stop_spark(wl.spark, procs)
    shutil.rmtree(work, ignore_errors=True)

    failed = [op for op in ops if op.error]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    report.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        inputs=wl.input_stats,
        setup_parts=wl.setup_parts,
        passes_s=walls,
        attempted=len(ops),
        failed_frac=len(failed) / len(ops),
        failed_ops=[{"name": op.name, "error": op.error} for op in failed],
    )
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for op in failed:
        print(f"FAILED {args.workload} {op.name}: {op.error}")
    print(json.dumps(report, default=str))
    if args.trace:
        metrics = {n: {"value": report["layers"][n], "unit": layer_unit(n)} for n in layers.PER_LAYER}
    else:
        metrics = {n: {"value": report[n], "unit": u} for n, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
