"""Counter capture + analyzers (TaskCounter / tez-tools analyzers parity:
TaskCounter.java:26, SkewAnalyzer.java, CriticalPathAnalyzer.java)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_capture_q08_shuffle_counters_nonzero(spark):
    from tez_spark.observability import capture
    from tez_spark.plans.queries import QUERIES

    rows, counters = capture(
        spark, lambda: QUERIES["q08"](spark, SF_DIR).collect()
    )
    assert len(rows) > 0
    # q08 is the sort-merge join — it must shuffle both sides.
    assert counters["SHUFFLE_BYTES_WRITTEN"] > 0, counters
    assert counters["SHUFFLE_BYTES"] > 0, counters
    assert counters["SHUFFLE_RECORDS_WRITTEN"] > 0, counters
    assert counters["NUM_STAGES"] >= 2, counters
    assert counters["EXECUTOR_RUN_TIME_MS"] > 0, counters
    # NUM_JOBS (r12, feeds `bench.py --jobs`): the captured group
    # ran at least one job, and never more jobs than stages
    assert 1 <= counters["NUM_JOBS"] <= counters["NUM_STAGES"], counters


def test_capture_isolates_stages(spark):
    """Counters cover only the captured query's stages: a no-shuffle scan
    captured after a shuffle-heavy query reports zero shuffle."""
    from tez_spark.observability import capture

    spark.range(0, 100000, 1, 4).selectExpr("id % 7 AS k").groupBy(
        "k"
    ).count().collect()  # shuffle outside the capture window
    _, counters = capture(
        spark, lambda: spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x").collect()
    )
    assert counters["SHUFFLE_BYTES_WRITTEN"] == 0
    assert counters["NUM_STAGES"] >= 1


def test_skew_report_has_multi_task_stages(spark):
    from tez_spark.observability import skew_report

    # force a multi-task stage so the report is nonempty
    spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k").groupBy(
        "k"
    ).count().collect()
    report = skew_report(spark)
    assert report, "no multi-task COMPLETE stages found"
    for row in report:
        assert row["skew_ratio"] >= 1.0
        assert row["num_tasks"] >= 2


def test_stage_report_ranked(spark):
    from tez_spark.observability import stage_report

    spark.range(0, 100000, 1, 4).selectExpr("id % 5 AS k").groupBy(
        "k"
    ).count().collect()
    report = stage_report(spark)
    assert report
    times = [r["run_time_ms"] for r in report]
    assert times == sorted(times, reverse=True)
    assert abs(sum(r["share"] for r in stage_report(spark, top=10**6)) - 1.0) < 1e-6


def test_observability_query_registered(spark):
    from tez_spark.plans.registry import all_queries

    df = all_queries()["observability_counters"](spark, SF_DIR)
    vals = {r.counter: r.value for r in df.collect()}
    assert vals["SHUFFLE_BYTES"] > 0


def test_posthoc_reports_from_closed_session_log(tmp_path):
    """tez-tools job-analyzer parity, offline half: a subprocess runs a
    shuffle query with the event log enabled and STOPS its session; the
    parent then produces skew/stage reports from the persisted log with
    no SparkSession at all (load_history is pure Python)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "eventlog")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    script = f"""
import json
from tez_spark.session import get_spark
spark = get_spark(app_name="tez_posthoc", cpus=4, shuffle_partitions=8,
                  event_log_dir={log_dir!r})
n = (spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k")
     .groupBy("k").count().count())
print(json.dumps({{"groups": n}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["groups"] == 13

    from tez_spark.observability import (
        _history_files,
        load_history,
        skew_report_from_history,
        stage_report_from_history,
    )

    history = load_history(log_dir)
    assert history["stages"], "no stages parsed from the event log"

    skew = skew_report_from_history(history)
    assert skew, "no multi-task stages in the post-hoc skew report"
    for row in skew:
        assert row["skew_ratio"] >= 1.0 and row["num_tasks"] >= 2

    ranked = stage_report_from_history(history)
    assert ranked
    times = [r["run_time_ms"] for r in ranked]
    assert times == sorted(times, reverse=True)
    assert abs(sum(r["share"] for r in ranked) - 1.0) < 1e-6
    # the groupBy shuffled: some stage must show shuffle write
    assert any(r["SHUFFLE_BYTES"] > 0 for r in ranked) or any(
        s["SHUFFLE_BYTES_WRITTEN"] > 0 for s in history["stages"]
    )

    # the deserialize layer: each stage's successful tasks' "Executor
    # Deserialize Time", summed — checked against a direct read of the log
    deser: dict[int, int] = {}
    for f in _history_files(log_dir):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                if (ev.get("Event") == "SparkListenerTaskEnd"
                        and ev["Task End Reason"]["Reason"] == "Success"):
                    deser[ev["Stage ID"]] = deser.get(ev["Stage ID"], 0) + int(
                        ev["Task Metrics"]["Executor Deserialize Time"]
                    )
    assert sum(deser.values()) > 0, "no task deserialization time in the log"
    for r in ranked:
        assert r["deserialize_ms"] == deser.get(r["stage_id"], 0), r


def test_capture_isolates_concurrent_work(spark):
    """Job-group attribution: a shuffle-heavy query running CONCURRENTLY
    (session mode, FAIR scheduler) must not leak into the captured
    counters of a no-shuffle scan."""
    import threading

    from tez_spark.observability import capture

    stop = threading.Event()

    def background():
        while not stop.is_set():
            spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k").groupBy(
                "k"
            ).count().collect()

    t = threading.Thread(target=background, daemon=True)
    t.start()
    try:
        _, counters = capture(
            spark,
            lambda: spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x").collect(),
        )
    finally:
        stop.set()
        t.join(timeout=30)
    assert counters["SHUFFLE_BYTES_WRITTEN"] == 0, counters
    assert counters["NUM_STAGES"] >= 1


def test_critical_path_from_closed_session_log(tmp_path):
    """CriticalPathAnalyzer parity (VERDICT r7 item 4): from a closed
    session's event log, the analyzer must return the shuffle query's
    actual dependency chain — map stage -> reduce stage -> (count's
    final stage) — with monotone cumulative time, not just an
    executor-time ranking. Also pins the synthetic-DAG semantics:
    longest chain wins, parallel branches off the path are excluded,
    wait gaps are non-negative."""
    import json
    import os
    import subprocess
    import sys

    from tez_spark.observability import critical_path_from_history

    # 1. synthetic DAG: diamond with one long and one short branch
    #    0 -> (1 long | 2 short) -> 3
    def mk(sid, parents, sub, comp):
        return {
            "stage_id": sid, "attempt_id": 0, "name": f"s{sid}",
            "status": "COMPLETE", "parent_ids": parents,
            "submission_ms": sub, "completion_ms": comp,
        }

    hist = {
        "stages": [
            mk(0, [], 0, 100),
            mk(1, [0], 110, 500),     # long branch
            mk(2, [0], 110, 200),     # short branch
            mk(3, [1, 2], 520, 600),  # joins both
        ],
        "durations": {},
    }
    chain = critical_path_from_history(hist)
    assert [r["stage_id"] for r in chain] == [0, 1, 3]
    assert chain[-1]["cum_ms"] == 100 + 390 + 80
    assert chain[1]["wait_ms"] == 10 and chain[2]["wait_ms"] == 20
    assert abs(sum(r["share_of_path"] for r in chain) - 1.0) < 1e-6
    cums = [r["cum_ms"] for r in chain]
    assert cums == sorted(cums)

    # 2. real closed-session log: same harness as the post-hoc test
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "eventlog")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    script = f"""
import json
from tez_spark.session import get_spark
spark = get_spark(app_name="tez_critpath", cpus=4, shuffle_partitions=8,
                  event_log_dir={log_dir!r})
n = (spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k")
     .groupBy("k").count().count())
print(json.dumps({{"groups": n}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    chain = critical_path_from_history(log_dir)
    assert len(chain) >= 2, f"shuffle query must chain stages: {chain}"
    # the chain must follow real parent edges: each row's stage is a
    # child of the previous row's stage in the log
    from tez_spark.observability import load_history

    by_id = {}
    for s in load_history(log_dir)["stages"]:
        if s.get("submission_ms") is not None:
            by_id[s["stage_id"]] = s
    for prev, cur in zip(chain, chain[1:]):
        assert prev["stage_id"] in by_id[cur["stage_id"]]["parent_ids"]
        assert cur["wait_ms"] >= 0
    cums = [r["cum_ms"] for r in chain]
    assert cums == sorted(cums)
    assert abs(sum(r["share_of_path"] for r in chain) - 1.0) < 1e-6


def test_spill_and_shuffle_time_reports():
    """SpillAnalyzerImpl / ShuffleTimeAnalyzer parity on a synthetic
    history: spill rows rank by total spilled bytes and carry the
    amplification vs bytes read; shuffle rows rank by time blocked on
    shuffle and bound fetch_wait_share by run time. Zero-spill /
    zero-shuffle stages are excluded, not reported as zeros."""
    from tez_spark.observability import (
        shuffle_time_report_from_history,
        spill_report_from_history,
    )

    def st(sid, **over):
        base = {
            "stage_id": sid, "attempt_id": 0, "name": f"s{sid}",
            "status": "COMPLETE", "NUM_COMPLETED_TASKS": 4,
            "INPUT_BYTES": 0, "SHUFFLE_BYTES": 0,
            "SHUFFLE_BYTES_WRITTEN": 0, "SHUFFLE_FETCH_WAIT_MS": 0,
            "SHUFFLE_WRITE_TIME_NS": 0, "SPILLED_BYTES_MEMORY": 0,
            "SPILLED_BYTES_DISK": 0, "EXECUTOR_RUN_TIME_MS": 1000,
        }
        base.update(over)
        return base

    hist = {
        "stages": [
            st(0, INPUT_BYTES=100, SPILLED_BYTES_MEMORY=300,
               SPILLED_BYTES_DISK=100, SHUFFLE_BYTES_WRITTEN=50,
               SHUFFLE_WRITE_TIME_NS=2_000_000),
            st(1, SHUFFLE_BYTES=200, SPILLED_BYTES_DISK=50,
               SHUFFLE_FETCH_WAIT_MS=250),
            st(2),  # clean stage: in neither report
            st(3, status="FAILED", SPILLED_BYTES_DISK=999999),
        ],
        "durations": {},
    }

    spills = spill_report_from_history(hist)
    assert [r["stage_id"] for r in spills] == [0, 1]
    assert spills[0]["spill_amplification"] == 4.0  # 400 spilled / 100 read
    assert spills[0]["spill_per_task"] == 100.0
    assert spills[1]["spill_amplification"] == 0.25  # 50 / 200 shuffle-read

    sh = shuffle_time_report_from_history(hist)
    assert [r["stage_id"] for r in sh] == [1, 0]  # 250ms wait > 2ms write
    assert sh[0]["fetch_wait_share"] == 0.25
    assert sh[1]["shuffle_write_ms"] == 2.0
    assert all(0 <= r["fetch_wait_share"] <= 1 for r in sh)


def test_shuffle_time_report_on_real_log(tmp_path):
    """The new reports run on an actual closed-session event log: the
    groupBy's reduce stage shows shuffle-read bytes; a clean local run
    reports no spill rows (exclusion, not zero-noise)."""
    import json
    import os
    import subprocess
    import sys

    from tez_spark.observability import (
        load_history,
        shuffle_time_report_from_history,
        spill_report_from_history,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "eventlog")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    script = f"""
import json
from tez_spark.session import get_spark
spark = get_spark(app_name="tez_shuffletime", cpus=4, shuffle_partitions=8,
                  event_log_dir={log_dir!r})
n = (spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k")
     .groupBy("k").count().count())
print(json.dumps({{"groups": n}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    h = load_history(log_dir)
    sh = shuffle_time_report_from_history(h)
    assert sh, "groupBy must produce at least one shuffle stage row"
    assert any(r["shuffle_read_bytes"] > 0 for r in sh)
    assert any(r["shuffle_write_bytes"] > 0 for r in sh)
    assert all(r["fetch_wait_share"] >= 0 for r in sh)
    # tiny local run: nothing spills, and absence is reported as absence
    assert spill_report_from_history(h) == []


def test_bridge_skipped_parents_passthrough_without_twin(tmp_path):
    """_bridge_skipped_parents' second branch: a skipped stage with NO
    executed twin (its RDD set matches nothing that ran) must act as a
    zero-duration passthrough — the child's parent link resolves
    transitively to the ghost's own JobStart-recorded parents instead
    of being dropped (the r8 failure mode). Also pins raw_parent_ids
    preservation and ghost-chain resolution through TWO ghosts."""
    import json

    from tez_spark.observability import critical_path_from_history, load_history

    def ev_completed(sid, parents, sub, comp, rdds):
        return {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": sid, "Stage Attempt ID": 0,
                "Stage Name": f"s{sid}", "Parent IDs": parents,
                "Submission Time": sub, "Completion Time": comp,
                "RDD Info": [{"RDD ID": r} for r in rdds],
            },
        }

    def ev_jobstart(jid, infos):
        return {
            "Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": [s for s, _, _ in infos],
            "Stage Infos": [
                {"Stage ID": s, "Parent IDs": ps,
                 "RDD Info": [{"RDD ID": r} for r in rs],
                 "Stage Name": f"s{s}"}
                for s, ps, rs in infos
            ],
        }

    # stage 0 executed (rdds {0,1}); job 1 lists ghosts 1 (parents [0],
    # rdds {50} - twinless) and 2 (parents [1], rdds {60} - twinless);
    # stage 3 executed with recorded parent 2. Resolution must walk
    # 3 -> ghost 2 -> ghost 1 -> timed 0.
    log = [
        ev_completed(0, [], 1000, 1400, [0, 1]),
        ev_jobstart(1, [(1, [0], [50]), (2, [1], [60]), (3, [2], [70, 71])]),
        ev_completed(3, [2], 1500, 1700, [70, 71]),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))

    h = load_history(str(p))
    by_id = {s["stage_id"]: s for s in h["stages"]}
    assert by_id[3]["raw_parent_ids"] == [2]
    assert by_id[3]["parent_ids"] == [0], by_id[3]

    chain = critical_path_from_history(h)
    assert [r["stage_id"] for r in chain] == [0, 3]
    assert chain[1]["wait_ms"] == 100  # 1500 - 1400 across both ghosts


def test_task_concurrency_from_history(tmp_path):
    """TaskConcurrencyAnalyzer parity: synthetic intervals pin the sweep
    (peak counts overlap, closed-open boundaries don't double-count,
    avg = task time / makespan); a real closed-session log shows the
    8-partition map stage actually ran tasks concurrently on 4 cores."""
    import json
    import os
    import subprocess
    import sys

    from tez_spark.observability import task_concurrency_from_history

    hist = {
        "stages": [
            {"stage_id": 0, "attempt_id": 0, "name": "map", "status": "COMPLETE"}
        ],
        "durations": {},
        "intervals": {
            # three tasks: [0,100) [50,150) [150,250) — peak 2 (the third
            # launches exactly when the second finishes: no double-count)
            (0, 0): [(0, 100), (50, 150), (150, 250)],
        },
    }
    rows = task_concurrency_from_history(hist)
    assert len(rows) == 1
    r = rows[0]
    assert r["peak_concurrent"] == 2 and r["num_tasks"] == 3
    assert abs(r["avg_concurrent"] - 300 / 250) < 1e-9
    assert r["makespan_ms"] == 250

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "eventlog")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    script = f"""
import json
from tez_spark.session import get_spark
spark = get_spark(app_name="tez_conc", cpus=4, shuffle_partitions=8,
                  event_log_dir={log_dir!r})
n = (spark.range(0, 2000000, 1, 8).selectExpr("id % 13 AS k")
     .groupBy("k").count().count())
print(json.dumps({{"groups": n}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = task_concurrency_from_history(log_dir)
    assert rows, "no task intervals parsed"
    top = rows[0]
    # peak counts LAUNCHED-to-finished overlap: local mode stamps all 8
    # launches when the stage submits (before pool admission), so peak
    # reads 8 while avg_concurrent — task time / makespan — correctly
    # reads the ~4 cores actually running. Assert both signals.
    assert top["peak_concurrent"] >= 2, top
    assert top["avg_concurrent"] <= 4.5, top  # 4 cores + timestamp slack
    assert all(r["peak_concurrent"] >= 1 for r in rows)
    assert all(r["avg_concurrent"] <= r["peak_concurrent"] + 1e-9 for r in rows)


def _task_end(sid, tid, idx, att, launch, finish, status="SUCCESS",
              host="h1", spec=False, reason=None, stage_att=0,
              locality="PROCESS_LOCAL", ex="1"):
    reason = {"Reason": "Success"} if status == "SUCCESS" else {
        "Reason": reason or "ExceptionFailure"}
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid, "Stage Attempt ID": stage_att,
        "Task End Reason": reason,
        "Task Info": {
            "Task ID": tid, "Index": idx, "Attempt": att,
            "Launch Time": launch, "Finish Time": finish,
            "Host": host, "Executor ID": ex, "Speculative": spec,
            "Locality": locality,
            "Failed": status == "FAILED", "Killed": status == "KILLED",
        },
        "Task Metrics": {"Executor Run Time": finish - launch},
    }


def _stage_completed(sid, name, sub, comp, fail=None, parents=None, att=0):
    si = {
        "Stage ID": sid, "Stage Attempt ID": att, "Stage Name": name,
        "Parent IDs": list(parents or []),
        "Submission Time": sub, "Completion Time": comp,
        "RDD Info": [{"RDD ID": sid * 10}],
    }
    if fail:
        si["Failure Reason"] = fail
    return {"Event": "SparkListenerStageCompleted", "Stage Info": si}


def test_slow_hung_overview_vertex_analyzers_synthetic(tmp_path):
    """The four r10 analyzers (VERDICT r9 item 4) pinned on a synthetic
    log: stage 0 runs clean; stage 1 has partition 3 fail on attempt 0
    (8s, the DAG's slowest attempt) and succeed on attempt 1, plus a
    speculative twin on partition 4.

    - SlowTaskIdentifier: attempts ranked by duration DAG-wide, the
      FAILED 8s attempt first (its runtime was spent; the reference
      reports attempt status for exactly this reason)
    - HungTaskAnalyzer: only multi-attempt tasks, last-attempt outcome
    - DagOverviewAnalyzer: time-ordered lifecycle events with task
      stats and first-line failure diagnostics
    - SlowestVertexAnalyzer: per-stage makespan (first launch -> last
      finish), nearest-rank percentiles over attempt durations
    """
    import json

    from tez_spark.observability import (
        dag_overview_from_history,
        hung_task_report_from_history,
        load_history,
        slow_task_report_from_history,
        slowest_vertex_report_from_history,
    )

    log = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 1000, 1400),
        _task_end(0, 1, 1, 0, 1000, 1900),
        _stage_completed(1, "reduce", 2000, 12000,
                         fail="Job aborted\nat Stage.run"),
        _task_end(1, 2, 3, 0, 2000, 10000, status="FAILED"),
        _task_end(1, 3, 3, 1, 10000, 11000),
        _task_end(1, 4, 4, 0, 2000, 3000),
        _task_end(1, 5, 4, 1, 2500, 2900, status="KILLED", spec=True),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    slow = slow_task_report_from_history(h, top=3)
    # durations: t2=8000 (FAILED), t3=1000, t4=1000, t1=900, ... —
    # stable sort keeps the t3/t4 tie in log order
    assert [(r["task_id"], r["status"]) for r in slow] == [
        (2, "FAILED"), (3, "SUCCESS"), (4, "SUCCESS")]
    assert slow[0]["duration_ms"] == 8000 and slow[0]["name"] == "reduce"

    hung = hung_task_report_from_history(h)
    # reference comparator: vertex, then last-attempt status (KILLED
    # sorts before SUCCESS), then attempt count desc
    assert [(r["index"], r["num_attempts"], r["last_status"]) for r in hung] == [
        (4, 2, "KILLED"), (3, 2, "SUCCESS")]
    assert hung[1]["last_duration_ms"] == 1000
    assert hung[0]["any_speculative"] and not hung[1]["any_speculative"]

    over = dag_overview_from_history(h)
    assert [(r["event_type"], r["stage_id"]) for r in over] == [
        ("STAGE_SUBMITTED", 0), ("STAGE_FINISHED", 0),
        ("STAGE_SUBMITTED", 1), ("STAGE_FINISHED", 1)]
    times = [r["event_time_ms"] for r in over]
    assert times == sorted(times)
    fin1 = over[-1]
    assert fin1["status"] == "FAILED"
    assert fin1["diagnostics"] == "Job aborted"  # first line only
    # TASK-level (distinct index) counts: indexes {3, 4}; both
    # eventually succeeded, so NEITHER is failed (final-state
    # semantics — the failed attempt on index 3 is attempt-level
    # history, visible in attempt_stats, not a failed TASK)
    assert (fin1["num_tasks"], fin1["completed_tasks"],
            fin1["failed_tasks"]) == (2, 2, 0)

    vert = slowest_vertex_report_from_history(h)
    # reduce: ALL attempts (failed included) span 2000 -> 11000
    assert vert[0]["name"] == "reduce" and vert[0]["makespan_ms"] == 9000
    assert vert[0]["num_attempts"] == 4  # failed + killed counted
    assert vert[1]["name"] == "scan" and vert[1]["makespan_ms"] == 900
    # scan durations [400, 900]: nearest-rank median=400, p95=900
    assert vert[1]["median_ms"] == 400 and vert[1]["p95_ms"] == 900


def test_new_analyzers_on_real_closed_session_log(tmp_path):
    """The four analyzers run on an actual closed-session event log
    (same harness as test_posthoc_reports_from_closed_session_log):
    a healthy local run must rank real attempts, report NO hung tasks,
    and produce a non-empty, time-ordered overview."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_dir = str(tmp_path / "eventlog")
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    script = f"""
import json
from tez_spark.session import get_spark
spark = get_spark(app_name="tez_analyzers", cpus=4, shuffle_partitions=8,
                  event_log_dir={log_dir!r})
n = (spark.range(0, 200000, 1, 8).selectExpr("id % 13 AS k")
     .groupBy("k").count().count())
print(json.dumps({{"groups": n}}))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    from tez_spark.observability import (
        dag_overview_from_history,
        hung_task_report_from_history,
        load_history,
        slow_task_report_from_history,
        slowest_vertex_report_from_history,
    )

    h = load_history(log_dir)
    assert h["tasks"], "no task attempts parsed"

    slow = slow_task_report_from_history(h, top=10)
    assert slow and all(r["status"] == "SUCCESS" for r in slow)
    durs = [r["duration_ms"] for r in slow]
    assert durs == sorted(durs, reverse=True)

    assert hung_task_report_from_history(h) == []  # healthy run

    over = dag_overview_from_history(h)
    assert over
    times = [r["event_time_ms"] for r in over]
    assert times == sorted(times)
    assert all(r["completed_tasks"] == r["num_tasks"] for r in over)

    vert = slowest_vertex_report_from_history(h)
    assert vert
    for r in vert:
        assert r["median_ms"] <= r["p75_ms"] <= r["p95_ms"] <= r["p98_ms"]
        assert r["makespan_ms"] >= r["p98_ms"] - 1  # makespan bounds attempts

    # r14 closers on the same real log: a self-diff is all-zero deltas;
    # the swimlane covers every attempt, lane-then-start ordered
    from tez_spark.observability import (
        counter_diff_from_history,
        swimlane_from_history,
    )

    self_diff = counter_diff_from_history(h, h)
    assert self_diff and all(r["delta"] == 0 for r in self_diff)
    lanes = swimlane_from_history(h)
    assert len(lanes) == len(h["tasks"])
    assert min(r["start_ms"] for r in lanes) == 0
    assert lanes == sorted(lanes, key=lambda r: (r["lane"], r["start_ms"]))


def test_attempt_stats_assignment_and_input_errors_synthetic(tmp_path):
    """The r10 bonus analyzers pinned on a synthetic log: stage 0
    spreads attempts 3-vs-1 across two hosts (TaskAssignmentAnalyzer's
    load metric), host h2 eats a FetchFailed attempt
    (InputReadErrorAnalyzer) and the per-(host, status) matrix counts
    it (TaskAttemptResultStatisticsAnalyzer)."""
    import json

    from tez_spark.observability import (
        input_read_error_report_from_history,
        load_history,
        task_assignment_from_history,
        task_attempt_stats_from_history,
    )

    log = [
        _stage_completed(0, "join", 1000, 5000),
        _task_end(0, 0, 0, 0, 1000, 2000, host="h1"),
        _task_end(0, 1, 1, 0, 1000, 2100, host="h1"),
        _task_end(0, 2, 2, 0, 1000, 2200, host="h1"),
        _task_end(0, 3, 3, 0, 1000, 3000, status="FAILED",
                  host="h2", reason="FetchFailed"),
        _task_end(0, 4, 3, 1, 3000, 4000, host="h2"),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    stats = task_attempt_stats_from_history(h)
    assert [(r["host"], r["status"], r["num_attempts"]) for r in stats] == [
        ("h1", "SUCCESS", 3), ("h2", "FAILED", 1), ("h2", "SUCCESS", 1)]
    for r in stats:  # every row carries the stage totals
        assert (r["stage_all"], r["stage_succeeded"], r["stage_failed"],
                r["stage_killed"]) == (5, 4, 1, 0)

    asg = task_assignment_from_history(h)
    # 5 attempts over 2 hosts: mean 2.5 -> h1 load 120%, h2 80%
    assert [(r["host"], r["num_attempts"]) for r in asg] == [
        ("h1", 3), ("h2", 2)]
    assert abs(asg[0]["load_pct"] - 120.0) < 1e-9
    assert abs(asg[1]["load_pct"] - 80.0) < 1e-9

    errs = input_read_error_report_from_history(h)
    assert len(errs) == 1
    e = errs[0]
    assert (e["task_id"], e["reason"], e["host"]) == (3, "FetchFailed", "h2")
    # an ExceptionFailure (code bug) must NOT appear: infra-only filter
    log.append(_task_end(0, 5, 4, 0, 1000, 1500, status="FAILED",
                         host="h1", reason="ExceptionFailure"))
    p.write_text("\n".join(json.dumps(e2) for e2 in log))
    assert len(input_read_error_report_from_history(str(p))) == 1


def test_analyze_log_cli_runs_every_analyzer(tmp_path):
    """tools/analyze_log.py (the AnalyzerDriver analog) produces every
    section as valid JSON from a log file — the one-command offline
    surface a user points at a closed application's event log."""
    import json
    import os
    import subprocess
    import sys

    log = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 1000, 1400),
        _task_end(0, 1, 1, 0, 1000, 1900),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "analyze_log.py"), str(p)],
        capture_output=True, text=True, timeout=120, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout)
    assert out["stages_parsed"] == 1 and out["task_attempts_parsed"] == 2
    for section in ("dag_overview", "critical_path", "stage_report",
                    "slowest_vertices", "slow_tasks", "skew", "spill",
                    "shuffle_time", "task_concurrency", "task_assignment",
                    "slow_nodes", "locality", "attempt_stats",
                    "hung_tasks", "input_read_errors"):
        assert section in out, section
    assert out["hung_tasks"] == [] and out["input_read_errors"] == []
    assert [r["task_id"] for r in out["slow_tasks"]] == [1, 0]
    # r14 sections: swimlane always present; counter_diff only with --diff
    assert [r["task_id"] for r in out["swimlane"]] == [0, 1]
    assert "counter_diff" not in out
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "analyze_log.py"),
         str(p), "--diff", str(p)],
        capture_output=True, text=True, timeout=120, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    diff_out = json.loads(proc.stdout)
    assert diff_out["counter_diff"] and all(
        r["delta"] == 0 for r in diff_out["counter_diff"]
    )


def test_hung_task_last_attempt_across_stage_retries(tmp_path):
    """r10 review: Spark's per-task Attempt counter RESETS on a stage
    resubmission, so a task that failed in stage-attempt 0 and
    succeeded as attempt 0 of stage-attempt 1 must report SUCCESS as
    its last outcome (ordering by attempt number alone would pick the
    stale FAILED row). Also pins that the FAILED attempt still
    dominates slowest-vertex makespan via the attempt-inclusive r10
    rework."""
    import json

    from tez_spark.observability import (
        hung_task_report_from_history,
        load_history,
        slowest_vertex_report_from_history,
    )

    log = [
        _stage_completed(5, "reduce", 1000, 9000),
        # stage attempt 0: index 7 fails twice (attempts 0 and 1)
        _task_end(5, 0, 7, 0, 1000, 7000, status="FAILED",
                  reason="FetchFailed", stage_att=0),
        _task_end(5, 1, 7, 1, 7000, 7500, status="FAILED",
                  reason="FetchFailed", stage_att=0),
        # stage attempt 1: index 7 reruns as attempt 0 and SUCCEEDS
        _task_end(5, 2, 7, 0, 8000, 8800, stage_att=1),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    hung = hung_task_report_from_history(h)
    assert len(hung) == 1
    r = hung[0]
    assert (r["index"], r["num_attempts"], r["last_status"]) == (7, 3, "SUCCESS")
    assert r["last_duration_ms"] == 800
    # the winning attempt is attempt 0 OF STAGE-ATTEMPT 1 — the
    # stage_attempt column is what makes "3 attempts, last_attempt 0"
    # legible as a resubmission rerun
    assert (r["last_stage_attempt"], r["last_attempt"]) == (1, 0)

    vert = slowest_vertex_report_from_history(h)
    # stage attempt 0 row: the 6000 ms FAILED attempt sets its makespan
    att0 = [v for v in vert if v["stage_id"] == 5 and v["num_attempts"] == 2]
    assert att0 and att0[0]["makespan_ms"] == 6500 and att0[0]["p98_ms"] == 6000


def test_slow_node_and_locality_analyzers_synthetic(tmp_path):
    """SlowNodeAnalyzer / LocalityAnalyzer parity pinned on a synthetic
    two-host log: h2's succeeded attempts average 3x h1's (the bad-node
    signal), and a stage whose ANY-locality attempts dominate AND run
    slower than its local ones raises the locality-wait
    recommendation."""
    import json

    from tez_spark.observability import (
        load_history,
        locality_report_from_history,
        slow_node_report_from_history,
    )

    log = [
        _stage_completed(0, "scan", 0, 20000),
        # h1: two fast succeeded attempts (1000ms each), local
        _task_end(0, 0, 0, 0, 0, 1000, host="h1"),
        _task_end(0, 1, 1, 0, 0, 1000, host="h1"),
        # h2: two slow succeeded (3000ms) non-local + one failed
        _task_end(0, 2, 2, 0, 0, 3000, host="h2", locality="ANY"),
        _task_end(0, 3, 3, 0, 0, 3000, host="h2", locality="ANY"),
        _task_end(0, 4, 4, 0, 0, 500, status="FAILED", host="h2",
                  locality="ANY"),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    nodes = {r["host"]: r for r in slow_node_report_from_history(h)}
    assert nodes["h1"]["avg_succeeded_ms"] == 1000
    assert nodes["h2"]["avg_succeeded_ms"] == 3000
    assert nodes["h2"]["num_failed"] == 1 and nodes["h1"]["num_failed"] == 0
    # cluster avg = 2000; h2 runs 1.5x it, h1 0.5x — h2 ranked first
    assert abs(nodes["h2"]["speed_vs_cluster"] - 1.5) < 1e-9
    assert slow_node_report_from_history(h)[0]["host"] == "h2"

    loc = locality_report_from_history(h)
    assert len(loc) == 1
    r = loc[0]
    # 2 of 5 attempts local -> ratio 0.4 < 0.5, and local (1000ms avg)
    # beats non-local (3000/3000/500 -> 2166.7ms): recommend raising
    # spark.locality.wait
    assert (r["n_process_local"], r["n_any"]) == (2, 3)
    assert abs(r["local_ratio"] - 0.4) < 1e-9
    assert r["raise_locality_wait"] is True
    # flip: with locality mostly local the recommendation clears
    log2 = log[:3] + [
        _task_end(0, 3, 3, 0, 0, 3000, host="h2"),
        _task_end(0, 4, 4, 0, 0, 500, host="h2"),
    ]
    p.write_text("\n".join(json.dumps(e) for e in log2))
    r2 = locality_report_from_history(str(p))[0]
    assert r2["raise_locality_wait"] is False


def test_slow_node_all_failed_host_ranks_first(tmp_path):
    """r10 review: a host whose EVERY attempt failed has no succeeded
    average (speed 0.0) — it must rank FIRST, not sink below every
    healthy host in a report whose top row is 'the bad node'."""
    import json

    from tez_spark.observability import (
        load_history,
        slow_node_report_from_history,
    )

    log = [
        _stage_completed(0, "scan", 0, 10000),
        _task_end(0, 0, 0, 0, 0, 1000, host="h1"),
        _task_end(0, 1, 1, 0, 0, 2000, host="h2"),
        _task_end(0, 2, 2, 0, 0, 4000, status="FAILED", host="h3"),
        _task_end(0, 3, 3, 0, 0, 4000, status="FAILED", host="h3"),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    rows = slow_node_report_from_history(load_history(str(p)))
    assert rows[0]["host"] == "h3" and rows[0]["num_failed"] == 2
    # then slowest healthy host first
    assert [r["host"] for r in rows[1:]] == ["h2", "h1"]


def test_locality_no_pref_excluded_from_ratio(tmp_path):
    """r10 review: NO_PREF attempts (reduce tasks emit it routinely)
    must not dilute local_ratio or trigger a recommendation that
    spark.locality.wait cannot act on — a stage of 8 NO_PREF + 1 local
    + 1 ANY has a preference-expressing ratio of 0.5, not 0.1."""
    import json

    from tez_spark.observability import (
        load_history,
        locality_report_from_history,
    )

    log = [_stage_completed(0, "reduce", 0, 10000)]
    log += [
        _task_end(0, i, i, 0, 0, 1000, locality="NO_PREF")
        for i in range(8)
    ]
    log += [
        _task_end(0, 8, 8, 0, 0, 600, locality="PROCESS_LOCAL"),
        _task_end(0, 9, 9, 0, 0, 2000, locality="ANY"),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    rows = locality_report_from_history(load_history(str(p)))
    r = rows[0]
    assert r["num_attempts"] == 10 and r["n_no_pref"] == 8
    assert abs(r["local_ratio"] - 0.5) < 1e-9  # 1 of 2 preference-bearing
    # ratio 0.5 is NOT under the 0.5 threshold: no recommendation
    assert r["raise_locality_wait"] is False


def test_container_reuse_one_on_one_and_vertex_paths_synthetic(tmp_path):
    """The final three reference analyzers (VERDICT r10 item 5 —
    15/17 -> 17/17) pinned on one synthetic log. Stage graph
    0(scan), 2(side) -> 1(map):

    - ContainerReuseAnalyzer: stage 0 packs two attempts onto executor
      1@h1 and one onto 2@h2 — reuse profile (2, 1), num_attempts 3
    - OneOnOneEdgeAnalyzer: stages 0 -> 1 have identical successful
      index sets {0,1,2} (the identity-width inference); index 1 moved
      h1 -> h2, the single reported locality miss. 2 -> 1 has a
      DIFFERENT width (one index) and must NOT be inferred as 1:1.
    - VertexLevelCriticalPathAnalyzer: every backward path prefix from
      the final stage, scored by cumulative stage wall, desc; the top
      row agrees with critical_path_from_history's argmax chain.
    """
    import json

    from tez_spark.observability import (
        container_reuse_report_from_history,
        critical_path_from_history,
        load_history,
        one_on_one_edge_report_from_history,
        vertex_critical_paths_from_history,
    )

    log = [
        _stage_completed(0, "scan", 1000, 3000),               # wall 2000
        _task_end(0, 0, 0, 0, 1000, 1500, host="h1", ex="1"),
        _task_end(0, 1, 1, 0, 1500, 2000, host="h1", ex="1"),
        _task_end(0, 2, 2, 0, 1000, 2900, host="h2", ex="2"),
        _stage_completed(2, "side", 1000, 1400),               # wall 400
        _task_end(2, 3, 0, 0, 1000, 1300, host="h2", ex="2"),
        _stage_completed(1, "map", 3000, 6000, parents=[0, 2]),  # wall 3000
        _task_end(1, 4, 0, 0, 3000, 4000, host="h1", ex="1"),
        _task_end(1, 5, 1, 0, 3000, 4500, host="h2", ex="2"),   # the miss
        _task_end(1, 6, 2, 0, 3000, 5900, host="h2", ex="2"),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    reuse = container_reuse_report_from_history(h)
    s0 = [r for r in reuse if r["stage_id"] == 0]
    assert [(r["executor_id"], r["reuse_count"]) for r in s0] == [
        ("1", 2), ("2", 1)]
    assert all(r["num_attempts"] == 3 for r in s0)
    assert {r["stage_id"] for r in reuse} == {0, 1, 2}

    misses = one_on_one_edge_report_from_history(h)
    assert len(misses) == 1, misses
    m = misses[0]
    assert (m["src_stage_id"], m["dest_stage_id"], m["index"]) == (0, 1, 1)
    assert (m["src_host"], m["dest_host"]) == ("h1", "h2")
    # explicit edge declaration overrides inference; a perfect edge
    # (2 -> 1 shares no index hosts... use 0 -> 0) yields no rows
    assert one_on_one_edge_report_from_history(h, edges=[(0, 0)]) == []

    paths = vertex_critical_paths_from_history(h)
    scores = {r["critical_path"]: r["score_ms"] for r in paths}
    assert scores == {
        "map": 3000,
        "map-->scan": 5000,
        "map-->side": 3400,
    }
    assert [r["score_ms"] for r in paths] == sorted(
        (r["score_ms"] for r in paths), reverse=True)
    # top path == THE critical chain (head-first there, dest-first here)
    chain = [r["name"] for r in critical_path_from_history(h)]
    assert paths[0]["critical_path"] == "-->".join(reversed(chain))


def test_makespan_and_overview_guards_on_malformed_attempts(tmp_path):
    """ADVICE r10 regressions pinned: (1) slowest_vertex skips
    launch_ms == 0 attempts (a log line missing 'Launch Time') for the
    min-launch bound, and falls back to the sum of durations when NO
    attempt carries one; (2) dag_overview keys task counts by
    (stage_id, stage_attempt_id) so a resubmitted stage's timeline rows
    carry what ran in THAT attempt, not the across-attempt merge."""
    import json

    from tez_spark.observability import (
        dag_overview_from_history,
        load_history,
        slowest_vertex_report_from_history,
    )

    log = [
        # stage 0: one malformed attempt (no Launch Time -> 0) + one
        # sane; makespan must use the sane launch, not epoch 0
        _stage_completed(0, "scan", 1000, 3100),
        _task_end(0, 0, 0, 0, 0, 3000),
        _task_end(0, 1, 1, 0, 1000, 2000),
        # stage 3: ONLY malformed attempts -> sum-of-durations fallback
        _stage_completed(3, "sink", 4000, 5000),
        _task_end(3, 2, 0, 0, 0, 4800),
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))
    vert = {r["stage_id"]: r for r in slowest_vertex_report_from_history(h)}
    assert vert[0]["makespan_ms"] == 2000  # 3000 - 1000, NOT 3000 - 0
    assert vert[3]["makespan_ms"] == 4800  # sum of durations fallback

    log2 = [
        # attempt 0: idx0 ok, idx1 fails (fetch failure) -> resubmit
        _stage_completed(7, "reduce", 1000, 4000, att=0),
        _task_end(7, 0, 0, 0, 1000, 2000, stage_att=0),
        _task_end(7, 1, 1, 0, 1000, 2500, status="FAILED",
                  reason="FetchFailed", stage_att=0),
        # attempt 1: only idx1 reruns
        _stage_completed(7, "reduce", 5000, 6000, att=1),
        _task_end(7, 2, 1, 0, 5000, 5800, stage_att=1),
    ]
    p2 = tmp_path / "app-log2"
    p2.write_text("\n".join(json.dumps(e) for e in log2))
    over = dag_overview_from_history(load_history(str(p2)))
    att0 = [r for r in over if r["event_type"] == "STAGE_FINISHED"
            and r["event_time_ms"] == 4000][0]
    att1 = [r for r in over if r["event_type"] == "STAGE_FINISHED"
            and r["event_time_ms"] == 6000][0]
    assert (att0["num_tasks"], att0["completed_tasks"],
            att0["failed_tasks"]) == (2, 1, 1)
    assert (att1["num_tasks"], att1["completed_tasks"],
            att1["failed_tasks"]) == (1, 1, 0)


def test_new_analyzers_empty_and_malformed_inputs():
    """The r11 analyzers degrade cleanly on empty/minimal histories:
    no stages -> empty reports everywhere, and a single-stage log
    yields exactly one critical-path prefix with its own wall."""
    from tez_spark.observability import (
        container_reuse_report_from_history,
        one_on_one_edge_report_from_history,
        vertex_critical_paths_from_history,
    )

    empty = {"stages": [], "durations": {}, "intervals": {}, "tasks": []}
    assert container_reuse_report_from_history(empty) == []
    assert one_on_one_edge_report_from_history(empty) == []
    assert one_on_one_edge_report_from_history(empty, edges=[(0, 1)]) == []
    assert vertex_critical_paths_from_history(empty) == []

    one = {
        "stages": [{
            "stage_id": 4, "attempt_id": 0, "name": "solo",
            "status": "COMPLETE", "parent_ids": [],
            "submission_ms": 100, "completion_ms": 350,
        }],
        "durations": {}, "intervals": {}, "tasks": [],
    }
    paths = vertex_critical_paths_from_history(one)
    assert paths == [{"critical_path": "solo", "score_ms": 250}]


def test_vertex_paths_deep_chain_no_recursion_error(tmp_path):
    """A 5000-stage linear chain (legitimate long iterative job) must
    return ranked prefixes, not RecursionError (r11 review: the walk is
    an explicit stack) — and the breadth budget caps output size."""
    from tez_spark.observability import vertex_critical_paths_from_history

    n = 5000
    stages = [
        {
            "stage_id": i, "attempt_id": 0, "name": f"s{i}",
            "status": "COMPLETE",
            "parent_ids": [i - 1] if i else [],
            "submission_ms": i * 10, "completion_ms": i * 10 + 5,
        }
        for i in range(n)
    ]
    h = {"stages": stages, "durations": {}, "intervals": {}, "tasks": []}
    paths = vertex_critical_paths_from_history(h, top=5)
    assert len(paths) == 5
    # the deepest prefix accumulated the most wall
    assert paths[0]["score_ms"] >= paths[-1]["score_ms"]
    assert paths[0]["critical_path"].startswith(f"s{n-1}-->")


def test_one_on_one_inference_prior_drops_plain_shuffle_chains(tmp_path):
    """r13 closure of the OneOnOneEdgeAnalyzer auto-inference decision:
    inferred mode applies a zero-locality-miss prior — an identity-width
    parent->child pair whose attempts MOSTLY changed hosts is a plain
    constant-partition shuffle chain (reducers are placed host-blind)
    and must be dropped, not reported as a wall of false misses; a
    mostly-colocated pair keeps reporting its genuine misses, labeled
    inferred=True. Declared edges remain the exact contract: the same
    high-miss pair reports IN FULL with inferred=False when declared."""
    import json

    from tez_spark.observability import (
        load_history,
        one_on_one_edge_report_from_history,
    )

    # stage 0 -> 1: identical index sets {0,1,2,3}, 3 of 4 moved hosts
    # (a reduce->reduce chain at constant partitions); stage 1 -> 2:
    # identical sets, 1 of 4 moved (a real 1:1 edge with one miss)
    log = [
        _stage_completed(0, "red1", 1000, 2000),
        _task_end(0, 0, 0, 0, 1000, 1500, host="h1", ex="1"),
        _task_end(0, 1, 1, 0, 1000, 1500, host="h2", ex="2"),
        _task_end(0, 2, 2, 0, 1000, 1500, host="h3", ex="3"),
        _task_end(0, 3, 3, 0, 1000, 1500, host="h4", ex="4"),
        _stage_completed(1, "red2", 2000, 3000, parents=[0]),
        _task_end(1, 4, 0, 0, 2000, 2500, host="h4", ex="4"),
        _task_end(1, 5, 1, 0, 2000, 2500, host="h3", ex="3"),
        _task_end(1, 6, 2, 0, 2000, 2500, host="h2", ex="2"),
        _task_end(1, 7, 3, 0, 2000, 2500, host="h4", ex="4"),
        _stage_completed(2, "oneone", 3000, 4000, parents=[1]),
        _task_end(2, 8, 0, 0, 3000, 3500, host="h4", ex="4"),
        _task_end(2, 9, 1, 0, 3000, 3500, host="h3", ex="3"),
        _task_end(2, 10, 2, 0, 3000, 3500, host="h2", ex="2"),
        _task_end(2, 11, 3, 0, 3000, 3500, host="h1", ex="1"),  # the miss
    ]
    p = tmp_path / "app-log"
    p.write_text("\n".join(json.dumps(e) for e in log))
    h = load_history(str(p))

    inferred = one_on_one_edge_report_from_history(h)
    # 0 -> 1 (3/4 misses > 0.5) dropped; 1 -> 2 (1/4) kept and labeled
    assert {(r["src_stage_id"], r["dest_stage_id"]) for r in inferred} == {(1, 2)}
    assert len(inferred) == 1 and inferred[0]["index"] == 3
    assert inferred[0]["inferred"] is True
    assert (inferred[0]["src_host"], inferred[0]["dest_host"]) == ("h4", "h1")

    declared = one_on_one_edge_report_from_history(h, edges=[(0, 1)])
    assert len(declared) == 3, "declared edges must report in full"
    assert all(r["inferred"] is False for r in declared)

    # prior is tunable: threshold 1.0 admits the shuffle chain too
    loose = one_on_one_edge_report_from_history(
        h, infer_max_miss_fraction=1.0
    )
    assert {(r["src_stage_id"], r["dest_stage_id"]) for r in loose} == {
        (0, 1), (1, 2)}


def test_counter_diff_and_swimlane_synthetic(tmp_path):
    """The r14 tez-tools closers (VERDICT r13 item 4) pinned on
    synthetic logs.

    counter-diff (counter_diff.py:20-29): run A = 2-stage DAG with
    1300+1000 ms of executor time; run B = same DAG where the reduce
    stage doubles and one attempt fails. Rows carry (a, b, delta,
    rel_change) per counter, absent counters read 0, ranking is
    |relative change| desc with brand-new counters first.

    swimlanes (swimlane.py attempts(): vertex/container/start/finish,
    lanes = containers): one row per attempt, lane = host/executor,
    start/finish as offsets from the app's first launch, failed
    attempts included, sorted lane-then-start."""
    import json

    from tez_spark.observability import (
        counter_diff_from_history,
        load_history,
        swimlane_from_history,
    )

    log_a = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 1000, 1400),
        _task_end(0, 1, 1, 0, 1000, 1900),
        _stage_completed(1, "reduce", 2000, 3100, parents=[0]),
        _task_end(1, 2, 0, 0, 2000, 3000, host="h2", ex="2"),
    ]
    log_b = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 1000, 1400),
        _task_end(0, 1, 1, 0, 1000, 1900),
        _stage_completed(1, "reduce", 2000, 5200, parents=[0]),
        _task_end(1, 2, 0, 0, 2000, 4000, host="h2", ex="2"),
        _task_end(1, 3, 1, 0, 2000, 5000, status="FAILED", host="h2",
                  ex="2"),
        _task_end(1, 4, 1, 1, 5000, 5100, host="h2", ex="2"),
    ]
    pa, pb = tmp_path / "run_a", tmp_path / "run_b"
    pa.write_text("\n".join(json.dumps(e) for e in log_a))
    pb.write_text("\n".join(json.dumps(e) for e in log_b))

    diff = counter_diff_from_history(str(pa), str(pb))
    by_name = {r["counter"]: r for r in diff}
    # success-only stage aggregates: A = 400+900+1000, B = 400+900+
    # 2000+100 (the FAILED 3000ms attempt is attempt-level history,
    # not stage time — same semantics as every other analyzer)
    assert (by_name["EXECUTOR_RUN_TIME_MS"]["a"],
            by_name["EXECUTOR_RUN_TIME_MS"]["b"]) == (2300, 3400)
    assert by_name["EXECUTOR_RUN_TIME_MS"]["delta"] == 1100
    assert by_name["NUM_STAGES"]["delta"] == 0
    assert by_name["NUM_STAGES"]["rel_change"] == 0.0
    assert (by_name["TIME_TAKEN_MS"]["a"],
            by_name["TIME_TAKEN_MS"]["b"]) == (2100, 4200)
    assert (by_name["NUM_COMPLETED_TASKS"]["a"],
            by_name["NUM_COMPLETED_TASKS"]["b"]) == (3, 4)
    # brand-new counter (a=0, delta>0) must lead the ranking
    assert diff[0]["counter"] == "NUM_FAILED_TASK_ATTEMPTS"
    assert (diff[0]["a"], diff[0]["b"], diff[0]["rel_change"]) == (
        0, 1, None)
    # remaining rows: |rel_change| non-increasing
    rels = [abs(r["rel_change"]) for r in diff if r["rel_change"] is not None]
    assert rels == sorted(rels, reverse=True)
    # identity diff: every delta 0
    assert all(
        r["delta"] == 0 for r in counter_diff_from_history(str(pa), str(pa))
    )

    lanes = swimlane_from_history(load_history(str(pb)))
    assert [r["lane"] for r in lanes] == [
        "h1/1", "h1/1", "h2/2", "h2/2", "h2/2"]
    # offsets from first launch (t0=1000); lane h2/2 time-ordered
    h2 = [r for r in lanes if r["lane"] == "h2/2"]
    assert [(r["start_ms"], r["finish_ms"], r["status"]) for r in h2] == [
        (1000, 3000, "SUCCESS"), (1000, 4000, "FAILED"),
        (4000, 4100, "SUCCESS")]
    assert {r["stage"] for r in h2} == {"reduce"}
    assert all(r["duration_ms"] == r["finish_ms"] - r["start_ms"]
               for r in lanes)


def test_swimlane_skips_malformed_launch_times(tmp_path):
    """ADVICE r14: attempts whose event-log line lacked 'Launch Time'
    (load_history's 0 default) can't be placed on the timeline — they
    are skipped, never emitted as epoch-negative rows, and an
    all-malformed log returns [] instead of raising min() on an empty
    sequence (the same exclusion the stage-summary makespan applies)."""
    import json

    from tez_spark.observability import load_history, swimlane_from_history

    mixed = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 0, 1400),  # missing Launch Time -> 0
        _task_end(0, 1, 1, 0, 1000, 1900),
    ]
    p = tmp_path / "mixed"
    p.write_text("\n".join(json.dumps(e) for e in mixed))
    lanes = swimlane_from_history(load_history(str(p)))
    assert [r["task_id"] for r in lanes] == [1]
    assert lanes[0]["start_ms"] == 0
    assert not any(r["start_ms"] < 0 for r in lanes)

    allbad = [
        _stage_completed(0, "scan", 1000, 2000),
        _task_end(0, 0, 0, 0, 0, 1400),
    ]
    p2 = tmp_path / "allbad"
    p2.write_text("\n".join(json.dumps(e) for e in allbad))
    assert swimlane_from_history(load_history(str(p2))) == []
