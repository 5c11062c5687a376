"""Run every history analyzer over a persisted Spark event log — the
AnalyzerDriver analog (reference tez-tools/analyzers/job-analyzer/src/
main/java/org/apache/tez/analyzer/plugins/AnalyzerDriver.java runs the
plugin set over a DAG history file; here the history is Spark's JSON
event log and the plugins are the *_from_history analyzers).

Usage: python tools/analyze_log.py <event-log-file-or-dir> [top_n]
       [--infer-one-on-one] [--diff <other-log>]

--diff: also emit a counter_diff section — per-counter deltas between
THIS log (a) and the other log (b), ranked by |relative change| — the
tez-tools counter-diff regression-triage flow (r14 closure).

--infer-one-on-one: run the OneOnOneEdgeAnalyzer parity in labeled
best-effort inference mode (identity-width candidates + the
zero-locality-miss prior; every row carries inferred=true) instead of
printing the declared-edges requirement. Spark event logs record no
edge semantics, so declared edges remain the exact contract — see
one_on_one_edge_report_from_history's docstring (r13 closure).

Pure Python — no SparkSession: a closed or remote application's log is
analyzable anywhere. Prints one JSON object with a section per analyzer;
empty sections mean "nothing to report" (no spill, no hung tasks, ...),
which is itself the finding on a healthy run.
"""
import argparse
import json
import os
import sys

# repo root, not cwd: the CLI must work from any working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tez_spark.observability import (  # noqa: E402
    container_reuse_report_from_history,
    counter_diff_from_history,
    critical_path_from_history,
    dag_overview_from_history,
    hung_task_report_from_history,
    input_read_error_report_from_history,
    load_history,
    locality_report_from_history,
    one_on_one_edge_report_from_history,
    shuffle_time_report_from_history,
    skew_report_from_history,
    slow_node_report_from_history,
    swimlane_from_history,
    slow_task_report_from_history,
    slowest_vertex_report_from_history,
    spill_report_from_history,
    stage_report_from_history,
    task_assignment_from_history,
    task_attempt_stats_from_history,
    task_concurrency_from_history,
    vertex_critical_paths_from_history,
)


def analyze(path: str, top: int = 20, infer_one_on_one: bool = False,
            diff: str | None = None) -> dict:
    h = load_history(path)
    return {
        "stages_parsed": len(h["stages"]),
        "task_attempts_parsed": len(h.get("tasks", [])),
        "dag_overview": dag_overview_from_history(h),
        "critical_path": critical_path_from_history(h),
        "stage_report": stage_report_from_history(h, top=top),
        "slowest_vertices": slowest_vertex_report_from_history(h, top=top),
        "slow_tasks": slow_task_report_from_history(h, top=top),
        "skew": skew_report_from_history(h),
        "spill": spill_report_from_history(h, top=top),
        "shuffle_time": shuffle_time_report_from_history(h, top=top),
        "task_concurrency": task_concurrency_from_history(h),
        "task_assignment": task_assignment_from_history(h),
        "slow_nodes": slow_node_report_from_history(h),
        "locality": locality_report_from_history(h),
        "attempt_stats": task_attempt_stats_from_history(h),
        "hung_tasks": hung_task_report_from_history(h),
        "input_read_errors": input_read_error_report_from_history(h),
        # r11 — the final three reference plugins (17/17).
        # one_on_one's exact audit needs DECLARED edge pairs (Spark
        # event logs carry no edge semantics); --infer-one-on-one opts
        # into the labeled best-effort heuristic (identity-width +
        # zero-locality-miss prior, rows carry inferred=true) for
        # arbitrary logs — r13 closure, see the function docstring.
        "one_on_one_edges": (
            one_on_one_edge_report_from_history(h)
            if infer_one_on_one
            else {
                "note": "exact audit requires declared edge pairs — "
                "one_on_one_edge_report_from_history(history, edges); "
                "pass --infer-one-on-one for the labeled heuristic"
            }
        ),
        "container_reuse": container_reuse_report_from_history(h),
        "vertex_critical_paths": vertex_critical_paths_from_history(h, top=top),
        # r14 — the last two tez-tools utilities (counter-diff,
        # swimlanes): the swimlane rows are the per-executor task
        # timeline (lanes = containers); counter_diff appears when
        # --diff names a second log.
        "swimlane": swimlane_from_history(h),
        **(
            {"counter_diff": counter_diff_from_history(h, diff)}
            if diff
            else {}
        ),
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path")
    ap.add_argument("top", nargs="?", type=int, default=20)
    ap.add_argument("--infer-one-on-one", action="store_true")
    ap.add_argument("--diff")
    args = ap.parse_args()
    print(
        json.dumps(
            analyze(args.path, args.top,
                    infer_one_on_one=args.infer_one_on_one, diff=args.diff),
            indent=1,
            default=str,
        )
    )
