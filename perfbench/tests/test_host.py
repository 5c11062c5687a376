"""The memory sampler's process filter."""

from __future__ import annotations

from perfbench import host

JVM = b"/usr/lib/jvm/bin/java\0-cp\0spark.jar\0"
DAEMON = b"python3\0-m\0pyspark.daemon\0"


def test_own_memory_drops_only_a_jvm_child_that_has_not_exec_d(monkeypatch):
    procs = {
        # pid: (ppid, cmdline)
        1: (0, b"python3\0run.py\0"),
        2: (1, JVM),
        3: (2, JVM),                # spawning: shares the JVM's memory
        4: (2, b"chmod\x000644\0f\0"),  # spawned and exec'd
        5: (2, DAEMON),
        6: (5, DAEMON),             # a forked Python worker has its own memory
    }
    monkeypatch.setattr(host, "_cmdline", lambda pid: procs[pid][1])
    monkeypatch.setattr(host, "_stat", lambda pid: ["S", str(procs[pid][0])])
    kept = host.own_memory([(pid, "0") for pid in procs])
    assert [pid for pid, _ in kept] == [1, 2, 4, 5, 6]
