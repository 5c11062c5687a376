"""SparkSession factory.

Tez parity notes (reference: /root/reference):

- Tez session mode + container reuse (TezConfiguration.java:218,1254-1256)
  ≙ one long-lived SparkSession with warm executors.
- ShuffleVertexManager auto-reduce parallelism
  (tez-runtime-library/.../vertexmanager/ShuffleVertexManager.java:64,
  DESIRED_TASK_INPUT_SIZE ~100MB) ≙ AQE coalescePartitions with
  advisoryPartitionSizeInBytes (we keep Spark's 64MB default).
- FairShuffleVertexManager skew splitting
  (FairShuffleVertexManager.java:113-130) ≙ AQE skewJoin.
- Speculation (LegacySpeculator.java) ≙ spark.speculation (left off in
  local mode; enable on a real cluster).
- TezSplitGrouper locality-aware split coalescing, 50MB..1GB per group
  (TezSplitGrouper.java:72-110) ≙ spark.sql.files.maxPartitionBytes +
  openCostInBytes file packing.

Scale design: these configs are the local-mode defaults; on a 1000-executor
cluster the same code runs unchanged — AQE decides shuffle partition counts
from runtime statistics exactly like ShuffleVertexManager repacks reducer
partitions from VertexManagerEvents.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tez_spark.memo import memo

# Runtime-settable confs every entry point applies even when handed a
# foreign SparkSession (e.g. the verify driver's): determinism (UTC) and
# Arrow for the Pandas-UDF slow path.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP without timezone (timestamp[us]) would otherwise
    # infer as TIMESTAMP_NTZ in Spark 4, which rejects unix_micros /
    # cast-to-long and silently diverges from the TIMESTAMP arithmetic the
    # time-based operators use. Session TZ is pinned UTC, so loading it as
    # plain TIMESTAMP is value-identical; catalog.load_table additionally
    # normalizes by ACTUAL column type for sessions where this conf can't
    # apply.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Surface parquet TIMESTAMP(NANOS) as int64 instead of a hard
    # PARQUET_TYPE_ILLEGAL error (one historical events.ts encoding);
    # normalize_event_ts restores TIMESTAMP. Session-global by nature, so
    # it lives here with the other ingestion confs rather than being
    # re-set on every load_table call.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4.x wraps EVERY DataFrame/function API call with call-site
    # capture for error decoration: getActiveSession + a conf read + a
    # PySparkCurrentOrigin set/clear = ~4 Py4J round-trips per API call.
    # Across a 124-query registry that is measured at ~4.3 s of pure
    # plan-BUILD overhead per bench pass (r16 A/B: fleet build 18.2 s ->
    # 13.8 s warm). Deployment-independent driver-side cost; the only
    # loss is the Python call-site line in error messages.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Wide-aggregate plans (the 128-column MinHash signature agg) exceed
    # the default 100-field codegen cutoff and silently fall back to
    # interpreted evaluation — raise it so they stay in whole-stage
    # codegen. 200 fields is still far below the 64KB JVM method limit
    # for min/pmod-shaped expressions.
    "spark.sql.codegen.maxFields": "200",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf confs to an existing session.

    Memoized per live session: load_table calls this on every scan (it
    must — the correctness driver hands queries a foreign session), which
    without the memo costs ~10 Py4J round-trips per table load, ~50 per
    multi-table query build. The memo holds the session weakly, so a
    restarted session at a recycled address is re-applied."""
    def apply() -> bool:
        for k, v in RUNTIME_CONFS.items():
            try:
                spark.conf.set(k, v)
            except Exception:
                # Some confs may be static in exotic deployments; never
                # fail a query over a tuning knob.
                pass
        return True

    memo(spark, ("confs",), apply)
    return spark


def _default_driver_mem() -> str:
    """Driver heap when TEZ_SPARK_DRIVER_MEM is unset: a quarter of
    physical memory, 1-48 GiB. A heap sized past the box never makes
    Spark evict persisted blocks to disk; the JVM grows until the kernel
    kills it instead."""
    total_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return f"{max(1, min(48, int(total_gb / 4)))}g"


def get_spark(
    app_name: str = "tez_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    master: str | None = None,
    event_log_dir: str | None = None,
) -> SparkSession:
    """Create (or get) the engine session.

    local[N] for tests/bench; on a real cluster, master/resource configs
    come from spark-submit and everything here still applies. Pass
    master='local[N,F]' to allow F task attempts (fault-tolerance tests;
    plain local mode fails the job on first task failure).

    event_log_dir enables the persisted history file (Tez keeps DAG
    history for tez-tools' offline job-analyzer; Spark's equivalent is
    the JSON event log) — written uncompressed and unrolled so
    observability.load_history / *_report_from_history can parse it
    without a running session."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode: driver heap is the only memory knob; undersizing it
        # turns shuffles/aggs into GC thrash with wild run-to-run variance.
        .config("spark.driver.memory", os.environ.get("TEZ_SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # TezSplitGrouper max 1GB/min 50MB per group -> Spark file packing.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Bound the AppStatusStore history: observability.capture iterates
        # retained stages through Py4J, and a long-lived session otherwise
        # accumulates thousands of stage rows (~3 gateway calls each) —
        # the capture cost grows with session age instead of query size.
        .config("spark.ui.retainedStages", "250")
        .config("spark.ui.retainedJobs", "250")
        # Tez session mode accepts concurrent DAGs (TezClient.submitDAG on
        # a shared session); FAIR scheduling is the Spark analog — round-
        # robins tasks across concurrently submitted jobs instead of FIFO
        # head-of-line blocking a short query behind a long one.
        .config("spark.scheduler.mode", "FAIR")
        # Whole-stage-codegen compile cache (static conf): the default
        # 100 entries thrashes under a 119-query registry (~5 codegen
        # fragments each), paying serialized janino recompiles on every
        # warm pass (the A/B against stock 100 is PERF.md r12).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
