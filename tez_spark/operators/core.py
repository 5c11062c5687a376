"""Core relational operators — the patterns Tez's examples/tests encode
(SURVEY.md §2.2-2.3), re-expressed as composable DataFrame transforms.

Each function is a thin, declarative wrapper: it states WHAT to compute and
lets Catalyst/Tungsten/AQE pick the physical strategy (exchange placement,
broadcast vs sort-merge, partial aggregation, skew splitting) — the role
Tez's edges + VertexManagers play imperatively.

Reference citations are per-function docstrings (file:line under
/root/reference).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tez_spark.memo import drop, memo

ColumnOrName = Column | str


# ---------------------------------------------------------------------------
# Cache tracking
# ---------------------------------------------------------------------------

# Persisted intermediates (shingle/band tables) registered here so the next
# registry run can drop them — a long-lived session (bench loop, notebook)
# would otherwise accumulate storage until OOM. Unpersist never breaks a
# plan that still references the DataFrame; it only costs a recompute.
_TRACKED_CACHES: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() with registration for later release_caches()."""
    _TRACKED_CACHES.append(df.persist())
    return df


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def release_caches() -> None:
    """Unpersist every tracked intermediate (call between query runs)."""
    while _TRACKED_CACHES:
        _unpersist(_TRACKED_CACHES.pop())


def jvm_expr_memo(key: str, build):
    """Memoize a STATIC expression-Column family per JVM gateway (r16).

    Plan construction cost in classic PySpark is Py4J round-trips: every
    Column operation is a synchronous socket call, so a 128-term
    aggregate family costs ~600 round-trips (~0.5-1 s) on EVERY query
    build — the bench pays it per timed sample. Expression trees are
    immutable JVM objects bound to no session or plan (reusing one
    Column in many DataFrames is ordinary Spark usage), so a family
    whose shape is a module constant (the minhash hash family, the
    simhash bit fold, the LSH band array) can build once per JVM and be
    reused by every subsequent query build. Scoped on the py4j gateway:
    a restarted JVM starts empty, and stale JVM handles can never leak
    across gateways. This caches no data and no plan — execution still
    computes everything from the parquet inputs."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        # no JVM yet — the build() itself would fail too; let it try
        return build()
    return memo(gw, ("expr", key), build)


# Shared corpus-derived artifacts (the shingle table, the minhash band
# table, winnow fingerprints) that MULTIPLE registry queries build
# identically in one bench/driver run. Unlike _TRACKED_CACHES these
# survive release_caches(): a registry loop reuses the persisted artifact
# instead of re-shingling the corpus per query (measured at sf0.1:
# curation_pipeline_lsh rebuilt dedup_minhash_lsh's entire
# shingle+signature+band pipeline — the duplicated build was most of its
# 5–20s). This is exactly Tez's session reuse (TezClient keeps the AM warm
# so successive DAGs share container state, TezClient.java:214); here the
# shared state is a persisted DataFrame. The memo fingerprints the
# artifact's input paths, so a regenerated fixture builds a fresh
# artifact (unpersisting the superseded one) rather than silently
# reading stale cache.
# At 100TB the same pattern is a persisted (or parquet-materialized)
# intermediate table: persist() defaults to MEMORY_AND_DISK, so an
# artifact larger than executor memory degrades to local-disk reads, not
# OOM; a multi-job pipeline would write it once with write_bucketed.


def shared_artifact(spark, key: tuple, builder, inputs=()) -> DataFrame:
    """Session-scoped memo of a persisted DataFrame artifact.

    `key` is a hashable tuple naming the artifact (name, fixture path,
    params); `inputs` are the paths it is computed from. `builder` is a
    zero-arg callable returning the un-persisted plan; it runs at most
    once per (session, key, generation of inputs)."""
    return memo(
        spark,
        ("artifact", *key),
        lambda: builder().persist(),
        inputs,
        on_evict=_unpersist,
    )


def release_shared(spark=None) -> None:
    """Unpersist memoized shared artifacts of `spark` (every session when
    None) — for tests and explicit session cleanup; registry runs
    deliberately do NOT call this."""
    for df in drop("artifact", *([] if spark is None else [spark])):
        _unpersist(df)


# ---------------------------------------------------------------------------
# Row-level (map-side) operators
# ---------------------------------------------------------------------------

def project(df: DataFrame, *cols: ColumnOrName) -> DataFrame:
    """Projection / value→key forwarding (ForwardingProcessor,
    tez-examples/.../HashJoinExample.java:269-300). Column pruning reaches
    the parquet scan (ReadSchema)."""
    return df.select(*cols)


def filter_rows(df: DataFrame, cond: Column | str) -> DataFrame:
    """Filter (FilterByWordInputProcessor,
    tez-tests/.../examples/processor/FilterByWordInputProcessor.java:138).
    Predicates push down to the scan (PushedFilters)."""
    return df.filter(cond)


def new_batch(id_col: str) -> Column:
    """The daily-ingest split, defined once: True for the ~10% new batch
    (md5(id) hex prefix >= 'e6', 26/256), False for the ~90% corpus —
    membership is a pure function of the id, stable across runs,
    partitionings and engines. Corpus sides filter on ~new_batch(...),
    which Catalyst rewrites to the prefix < 'e6' compare. The DuckDB
    oracles restate it in SQL as the independent truth."""
    h = F.md5(F.encode(F.col(id_col).cast("string"), "UTF-8"))
    return F.substring(h, 1, 2) >= "e6"


def flat_map_tokens(
    df: DataFrame, text_col: str, out_col: str = "token", pattern: str = " "
) -> DataFrame:
    """Tokenize / flatMap: split text, emit one row per token
    (TokenProcessor, tez-examples/.../WordCount.java:74-103).

    Built-in explode+split — JVM-side, stays inside whole-stage codegen
    (no Python in the hot path)."""
    return df.select(F.explode(F.split(F.col(text_col), pattern)).alias(out_col)).filter(
        F.col(out_col) != ""
    )


# ---------------------------------------------------------------------------
# Exchange declarations (Tez edges)
# ---------------------------------------------------------------------------

def hash_repartition(df: DataFrame, *keys: ColumnOrName, num_partitions: int | None = None) -> DataFrame:
    """SCATTER_GATHER edge with UnorderedPartitionedKVOutput: hash-partition,
    no sort (tez-runtime-library/.../output/UnorderedPartitionedKVOutput.java;
    HashPartitioner.java:30-33).

    Rarely needed explicitly — groupBy/join insert the exchange themselves
    and AQE sizes it; use for co-locating several downstream ops on one key.
    """
    if num_partitions is not None:
        return df.repartition(num_partitions, *keys)
    return df.repartition(*keys)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Round-robin repartition when the scan yielded fewer splits than the
    cluster has slots (RoundRobinPartitioner parity,
    tez-runtime-library/.../partitioner/RoundRobinPartitioner.java:23-27).

    Local/small-input fix: a tiny parquet file arrives as one split and
    would serialize every downstream map-side operator. At 100TB the scan
    has thousands of natural splits and this is a no-op decision — call it
    only in front of compute-heavy per-row work (hashing, Python decode),
    never before pushdown-sensitive filters.

    bytes_per_task: work-aware target sizing (r16). The slot-count target
    assumes per-row work heavy enough that every core should help even on
    a KB-scale input (shingling, per-token md5, real media decode). For
    LIGHT per-row work (the multimodal fake stand-ins: ~0.01 ms/row) a
    32-way spread of a single tiny split costs more in task scheduling +
    per-task Python round-trips than the map work itself — measured at
    sf0.1: 1.22-1.45 s with the slot target vs 0.59-0.89 s bytes-sized
    (PERF/OPTIMIZATION_r16.md). Passing bytes_per_task caps the target at
    ceil(input_bytes / bytes_per_task), so the spread grows with data
    (scale-adaptive, never a local[32] constant) and converges to the
    same no-op as the slot target once natural splits dominate.
    SCOPE (ADVICE r16): the cap applies only when the plan is
    scan-rooted over stat-able local files (inputFiles() non-empty);
    on a derived input (post-shuffle, in-memory) total bytes are
    unknown and the spread falls back to the full slot target — don't
    pass bytes_per_task in front of light map work over derived frames
    and expect the cap to bound the task count.

    The split-count check estimates from the scan's input files (Spark's
    own packing formula: total bytes / maxPartitionBytes) — file stats
    only, no physical planning. df.rdd.getNumPartitions() would be exact
    but forces full plan compilation + RDD conversion per call, a fixed
    driver-side tax on every heavy-query entry; it remains only as the
    fallback for frames that are not file-backed (or whose files this
    driver can't stat, e.g. object-store URIs)."""
    import math
    import os as _os
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism

    def _estimated_splits() -> "tuple[int, int] | None":
        files = df.inputFiles()  # analysis only; no job, no physical plan
        if not files:
            return None
        total = 0
        for uri in files:
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return None
            try:
                total += _os.path.getsize(p.path)
            except OSError:
                return None
        raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 << 20)
        ).strip().lower().removesuffix("b")
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        if raw and raw[-1] in units:
            max_bytes = int(raw[:-1]) * units[raw[-1]]
        else:
            max_bytes = int(raw)
        # Spark packs small files together and splits large ones, so the
        # split count is ~ total / maxPartitionBytes in both regimes
        # (openCostInBytes padding ignored — fine for a >=-target check).
        return math.ceil(total / max(max_bytes, 1)) or 1, total

    est = _estimated_splits()
    if est is None:
        splits, total_bytes = df.rdd.getNumPartitions(), None
    else:
        splits, total_bytes = est
    if bytes_per_task and total_bytes is not None:
        target = min(target, max(1, math.ceil(total_bytes / bytes_per_task)))
    if splits >= target:
        return df
    return df.repartition(target)


def ordered_partition(
    df: DataFrame, keys: Sequence[ColumnOrName], num_partitions: int | None = None
) -> DataFrame:
    """SCATTER_GATHER edge with OrderedPartitionedKVOutput: hash-partition +
    sort within partition (tez-runtime-library/.../output/
    OrderedPartitionedKVOutput.java:67, PipelinedSorter.java:75). The classic
    map-side sort shuffle; Spark's sort shuffle + Tungsten sorter provide
    the mechanism."""
    out = df.repartition(num_partitions, *keys) if num_partitions else df.repartition(*keys)
    return out.sortWithinPartitions(*keys)


def broadcast_side(df: DataFrame) -> DataFrame:
    """BROADCAST edge (UnorderedKVEdgeConfig.createDefaultBroadcastEdgeProperty,
    tez-runtime-library/.../conf/UnorderedKVEdgeConfig.java:107): ship the
    whole dataset to every consumer task."""
    return F.broadcast(df)


def stats_broadcast(
    df: DataFrame, sf_dir: str, table: str, cap_rows: int = 250_000
) -> DataFrame:
    """Broadcast-hint a dimension side from REAL table statistics — the
    parquet footer row count (table_row_count: no Spark job) of the
    BASE table the side derives from — instead of either a blind static
    F.broadcast (an executor OOM once the table outgrows memory: TPC-H
    part is ~2e10 rows at the 100TB SF) or Catalyst's filtered-size
    guess (its default filter selectivities under-hint, planning SMJ at
    small SF, and AQE's late broadcast conversion still pays the
    probe-side shuffle WRITE before converting — measured +0.1-0.5 s
    per TPC-H query at sf0.1). The base-table count upper-bounds any
    filtered subset of it, so the hint is safe whenever the stat is
    under cap_rows; over the cap the join is left to Catalyst/AQE,
    which plans the (correct) shuffle join from the start. cap_rows
    250k ≈ tens of MB for the widest fixture dims — broadcastable on
    any reasonable executor."""
    from tez_spark.sources.catalog import table_row_count

    if table_row_count(sf_dir, table) <= cap_rows:
        return F.broadcast(df)
    return df


def union_all(*dfs: DataFrame) -> DataFrame:
    """VertexGroup + GroupInputEdge + ConcatenatedMergedKeyValuesInput =
    UNION ALL (tez-api/.../dag/api/VertexGroup.java;
    tez-runtime-library/.../input/ConcatenatedMergedKeyValuesInput.java:50-105).
    unionByName so member vertices may differ in column order."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

def aggregate(
    df: DataFrame, keys: Sequence[ColumnOrName], aggs: Sequence[Column]
) -> DataFrame:
    """Hash aggregation with automatic map-side partial aggregation
    (SumProcessor, tez-examples/.../WordCount.java:114-139; combiner hook
    TezRuntimeConfiguration.java:231). Spark's HashAggregateExec always
    does partial+final — the combiner is not optional here."""
    if keys:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def count_by(df: DataFrame, *keys: ColumnOrName, out: str = "n") -> DataFrame:
    """WordCount reduce step: count per key."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def distinct_rows(df: DataFrame, *cols: ColumnOrName) -> DataFrame:
    """Dedup via grouped-reader semantics (OrderedGroupedKVInput groups
    equal keys — ValuesIterator.java:45; emitting only keys = DISTINCT)."""
    return df.select(*cols).distinct() if cols else df.distinct()


# ---------------------------------------------------------------------------
# Joins (the reference's flagship examples)
# ---------------------------------------------------------------------------

def hash_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Repartition hash join: both sides hash-partitioned on the key
    (HashJoinExample.java:143-264, HashJoinProcessor :307-345). Catalyst
    picks shuffle-hash or sort-merge by stats; AQE can convert to broadcast
    at run time if one side turns out small."""
    return left.join(right, on, how)


def broadcast_join(
    stream: DataFrame,
    small: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Broadcast hash join: hash side shipped whole to every task
    (HashJoinExample.java:218-240, doBroadcast branch). No shuffle of the
    stream side — the key scale win for fact⋈dim."""
    return stream.join(F.broadcast(small), on, how)


def sort_merge_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Sort-merge join: both sides ordered-partitioned, two-cursor merge
    (SortMergeJoinExample.java:220-313, join :278). Spark's
    SortMergeJoinExec is the default for large⋈large; hint it explicitly."""
    return left.hint("merge").join(right, on, how)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Semi join — HashJoinProcessor's actual output semantics (emits
    stream-side keys present in the hash side, HashJoinExample.java:307-345)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str] | Column) -> DataFrame:
    """Anti join — JoinValidate's symmetric-difference check
    (tez-examples/.../JoinValidate.java:151-181 expects zero non-matching
    keys)."""
    return left.join(right, on, "left_anti")


def join_validate(left: DataFrame, right: DataFrame, on: Sequence[str]) -> bool:
    """JoinValidate.java:58 — assert symmetric difference on the key is
    empty. Returns True when both anti joins are empty."""
    lk = left.select(*on).distinct()
    rk = right.select(*on).distinct()
    return lk.join(rk, list(on), "left_anti").isEmpty() and rk.join(
        lk, list(on), "left_anti"
    ).isEmpty()


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the (possibly hot-keyed) left side,
    replicate the right side `salt`× — every hot key spreads over `salt`
    reducer partitions (FairShuffleVertexManager DATA_MOVEMENT_SIZE_BASED
    partition splitting, FairShuffleVertexManager.java:113-130, done
    manually). AQE skew-join covers most cases automatically; use this
    when a single key exceeds what one task can hold even post-split, or
    when AQE is unavailable (streaming joins).

    Cost: right side inflated salt× — keep salt small and the right side
    the smaller input. Only inner/left are supported: the replicated right
    side would emit unmatched right rows salt× under right/full semantics.

    The salt must be independent of row content — hot keys are usually
    fully-duplicate rows, and a content hash would send them all to one
    bucket, defeating the mitigation. Any per-row value works for
    correctness (the right side is replicated to every bucket), so a
    retry-renumbered monotonically_increasing_id cannot change the join
    result."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    l_salted = left.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)).cast("int")
    )
    r_salted = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    out = l_salted.join(r_salted, [on, "_salt"], how)
    return out.drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    how: str = "left",
) -> DataFrame:
    """As-of join, pd.merge_asof(direction='backward') semantics: each left
    row gains the right row with the same key and the greatest
    right_ts <= left_ts (all right columns carried; null-filled when no
    such row and how='left'; 'inner' drops unmatched lefts).

    Union-merge plan — no per-key cross product: tag both sides, union,
    ONE shuffle on the key, one sort by (ts, side, payload), then a
    running last-non-null carry of the right row packed as a struct.
    A hot key costs a single sorted partition pass; the round-1
    join-then-window formulation materialized events-per-key² intermediate
    rows before pruning (the classic skew bomb at 100TB scale).

    Deterministic without synthetic row ids: right rows tied on right_ts
    resolve by the packed-struct ordering (argmax over the remaining
    columns); equal left rows all see the same carried prefix. Nothing
    depends on monotonically_increasing_id, so task retries cannot
    renumber rows mid-query.

    No Tez analog (reference joins are hash/merge equi-joins only,
    HashJoinExample.java:143, SortMergeJoinExample.java:220) — this is
    extension capability for telemetry/market-data enrichment.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join supports left/inner, got {how!r}")
    carried = [c for c in right.columns if c != on]
    clash = set(carried) & set(left.columns)
    if clash:
        raise ValueError(f"rename right columns colliding with left: {sorted(clash)}")
    payload = F.struct(F.col(right_ts), *[F.col(c) for c in carried if c != right_ts])
    payload_type = right.select(payload.alias("_p")).schema["_p"].dataType
    # Rows that can never be a match must not enter the merge: a right
    # row with null right_ts would sort nulls-FIRST with a non-null
    # payload struct and be carried as the "earliest" match for every
    # left row; a null join key never matches under SQL semantics (and
    # partitionBy would happily group null keys together).
    right = right.filter(F.col(right_ts).isNotNull() & F.col(on).isNotNull())

    l_cols = [c for c in left.columns]
    l_sel = left.select(
        *l_cols,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(payload_type).alias("_rp"),
    )
    r_sel = right.select(
        *[
            (F.col(on) if c == on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in l_cols
        ],
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        payload.alias("_rp"),
    )

    u = l_sel.unionByName(r_sel)
    w = (
        Window.partitionBy(on)
        .orderBy("_ats", "_side", "_rp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("_m", F.last("_rp", ignorenulls=True).over(w)).filter(
        F.col("_side") == 1
    )
    if how == "inner":
        matched = matched.filter(F.col("_m").isNotNull())
    out_cols = [F.col(c) for c in l_cols] + [
        F.col(f"_m.{c}").alias(c) for c in [right_ts] + [c for c in carried if c != right_ts]
    ]
    return matched.select(*out_cols)


def cross_join(
    left: DataFrame, right: DataFrame, theta: Column | None = None
) -> DataFrame:
    """Cartesian product, optionally theta-filtered
    (CartesianProduct.java:79,151-199; CartesianProductFilter prunes pairs —
    tez-runtime-library/.../cartesianproduct/CartesianProductFilter.java).
    Catalyst pushes the filter into/below the product where possible; the
    fair-chunking of FairCartesianProductVertexManager.java:75 is AQE's job.
    """
    out = left.crossJoin(right)
    return out.filter(theta) if theta is not None else out


def chunked_cross_join(
    left: DataFrame,
    right: DataFrame,
    theta: Column | None = None,
    target_pairs_per_task: int = 1_000_000,
    n_left: int | None = None,
    n_right: int | None = None,
) -> DataFrame:
    """Large×large cartesian with BOUNDED per-task pair counts —
    FairCartesianProductVertexManager parity (tez-runtime-library/.../
    cartesianproduct/FairCartesianProductVertexManager.java:75 grids
    all-pairs work so every task performs ~1e6 operations).

    Spark's CartesianProductExec makes one task per (left-partition,
    right-partition) block, so per-task cost is |A|/numA × |B|/numB —
    the partition GRID, not the engine, decides whether a task does 1e6
    pairs or 1e12, and Catalyst never re-grids for you: two billion-row
    sides arriving in 200 partitions each yield 40k tasks of 2.5e13
    pairs, i.e. a job that never finishes, with no OOM to warn you.
    This operator sizes the grid from the two row counts: per-task block
    edges sqrt(target × |A|/|B|) × sqrt(target × |B|/|A|) multiply to
    `target` pairs and balance the replication of each side (each A-row
    is shipped numB times and vice versa — the balanced grid minimizes
    total bytes replicated, the same objective as the reference's fair
    grouping).

    Sizing inputs: pass `n_left`/`n_right` (from table statistics or a
    persisted intermediate's known cardinality) to avoid the sizing
    count() jobs — a count() over a DERIVED plan (filter/join upstream)
    executes that whole plan, so for non-trivial inputs either supply the
    hints or persist the inputs first; only a bare parquet scan answers
    count() from metadata (and only with aggregate pushdown). When one
    side turns out broadcast-small Catalyst plans BNLJ instead and the
    grid on the streamed side still bounds per-task work — correct in
    both regimes. Use plain cross_join only when you KNOW one side is
    tiny."""
    import math

    na = left.count() if n_left is None else n_left
    nb = right.count() if n_right is None else n_right
    if na > 0 and nb > 0:
        edge_a = max(1.0, math.sqrt(target_pairs_per_task * na / nb))
        edge_b = max(1.0, math.sqrt(target_pairs_per_task * nb / na))
        left = left.repartition(max(1, math.ceil(na / edge_a)))
        right = right.repartition(max(1, math.ceil(nb / edge_b)))
    out = left.crossJoin(right)
    return out.filter(theta) if theta is not None else out


def rank_dominance_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_group: str,
    right_key: str,
    left_val: str,
    right_val: str,
    n_buckets: int = 256,
    bounds: "tuple[float, float] | None" = None,
) -> DataFrame:
    """(left_group, right_key, n_dominant): per-group counts over the
    left×right theta product of pairs where left_val > right_val — the
    HIGH-CARDINALITY-right_key twin of q_cross_join_chunked's rank
    window (the quantile-bucket pre-aggregation its docstring promises;
    FairCartesianProductVertexManager.java:75's objective — output-size-
    bounded parallelism for an all-pairs theta — met by pre-aggregation
    instead of grid chunking).

    `bounds=(lo, hi)`: the value domain, when the caller has it from
    table statistics (catalog.table_column_minmax reads it from parquet
    row-group footers with no scan) — skips the min/max aggregation job
    over both sides. ANY monotone bucketing is correct regardless of the
    supplied bounds (out-of-range values clamp to the edge buckets and
    compare exactly in the within-bucket join), so stale or loose stats
    cost balance, never correctness.

    Why the window form dies on a wide key: it replicates every left
    row once per distinct right_key (fine for a 25-value nation dim,
    C×K rows for a 10k+-value one) and sorts C+S rows inside each of K
    window partitions. This form never replicates by K and never sorts
    the raw rows. Both sides are histogrammed into `n_buckets` monotone
    value buckets:

    - CROSS-BUCKET pairs (s strictly below c's bucket) are counted from
      aggregates alone: per-key cumulative supplier histograms (dense
      K×B grid, B rows per window partition — parallelism scales WITH
      key cardinality) joined to the left histogram on bucket, with the
      tiny left histogram broadcast.
    - WITHIN-BUCKET pairs are compared exactly via a bucket equijoin:
      candidates per bucket are n_left[b]×n_right[b] ≈ C·S/B² — size
      n_buckets so C·S/B fits the cluster (the task count is B for this
      stage; B is the knob trading candidate volume against
      parallelism).

    Exact, not approximate: bucketing is monotone (floor over a fixed
    grid), so a strictly-lower bucket implies a strictly smaller value,
    and equal values always share a bucket where the strict `>` is
    evaluated on the raw columns. Equality with the exact plan on a
    >10k-value key and candidate-boundedness are asserted in
    tests/test_operators.py."""
    spark = left.sparkSession
    if bounds is not None:
        lo, hi = float(bounds[0]), float(bounds[1])

        def bucket_of(val: str) -> Column:
            if hi == lo:
                return F.lit(0).cast("int")
            w = (hi - lo) / float(n_buckets)
            return (
                F.greatest(
                    F.lit(0),
                    F.least(
                        F.floor((F.col(val).cast("double") - F.lit(lo)) / F.lit(w)),
                        F.lit(n_buckets - 1),
                    ),
                )
            ).cast("int")

        lb = left.select(
            F.col(left_group).alias("_g"),
            F.col(left_val).alias("_lv"),
            bucket_of(left_val).alias("_b"),
        )
        rb = right.select(
            F.col(right_key).alias("_k"),
            F.col(right_val).alias("_rv"),
            bucket_of(right_val).alias("_b"),
        )
    else:
        bounds_df = (
            left.select(F.col(left_val).cast("double").alias("_v"))
            .unionByName(right.select(F.col(right_val).cast("double").alias("_v")))
            .agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
        )

        def bucket_of(val: str) -> Column:
            w = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
            return (
                F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
                .otherwise(
                    F.greatest(
                        F.lit(0),
                        F.least(
                            F.floor((F.col(val).cast("double") - F.col("_lo")) / w),
                            F.lit(n_buckets - 1),
                        ),
                    )
                )
                .cast("int")
            )

        lb = left.crossJoin(F.broadcast(bounds_df)).select(
            F.col(left_group).alias("_g"),
            F.col(left_val).alias("_lv"),
            bucket_of(left_val).alias("_b"),
        )
        rb = right.crossJoin(F.broadcast(bounds_df)).select(
            F.col(right_key).alias("_k"),
            F.col(right_val).alias("_rv"),
            bucket_of(right_val).alias("_b"),
        )

    l_hist = lb.groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_nl"))
    r_hist = rb.groupBy("_k", "_b").agg(F.count(F.lit(1)).alias("_nr"))

    # dense per-key cumulative histogram: every (key, bucket) cell, with
    # the count of right rows in STRICTLY lower buckets
    grid = (
        rb.select("_k").distinct()
        .crossJoin(F.broadcast(spark.range(n_buckets).select(F.col("id").cast("int").alias("_b"))))
        .join(r_hist, ["_k", "_b"], "left")
    )
    wcum = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r_below = grid.withColumn(
        "_below", F.coalesce(F.sum("_nr").over(wcum), F.lit(0))
    ).filter(F.col("_below") > 0)

    cross_part = (
        r_below.join(F.broadcast(l_hist), "_b")
        .groupBy("_g", "_k")
        .agg(F.sum(F.col("_nl") * F.col("_below")).alias("_n_cross"))
    )
    within_part = (
        lb.join(rb, "_b")
        .filter(F.col("_lv") > F.col("_rv"))
        .groupBy("_g", "_k")
        .agg(F.count(F.lit(1)).alias("_n_within"))
    )
    merged = cross_part.join(within_part, ["_g", "_k"], "full_outer")
    return (
        merged.select(
            F.col("_g").alias(left_group),
            F.col("_k").alias(right_key),
            (
                F.coalesce(F.col("_n_cross"), F.lit(0))
                + F.coalesce(F.col("_n_within"), F.lit(0))
            ).alias("n_dominant"),
        )
        .filter(F.col("n_dominant") > 0)
    )


# ---------------------------------------------------------------------------
# Sorts
# ---------------------------------------------------------------------------

def bounded_sort(df: DataFrame, *order: ColumnOrName) -> DataFrame:
    """Total order for a result KNOWN to be small (per-group summaries,
    candidate-bounded pair reports, top-k unions — anything whose row
    count is bounded by groups/candidates, not the corpus): coalesce to
    one partition and sort in place. Identical output order to
    orderBy(), but skips the range partitioner's separate SAMPLING job —
    one less serialized driver round-trip, which the r7 stage-floor
    profile showed is where sub-second registry queries spend their
    time (~0.15-0.2 s/query measured at sf0.1; see PERF.md round 7).

    repartition(1), NOT coalesce(1): coalesce is a narrow dependency
    that merges partitions back through the lineage to the previous
    shuffle — on a map-only plan that single-threads the whole query
    (A/B: multimodal_decode's Arrow decode went 0.9 → 3.7 s under
    coalesce). The round-robin exchange keeps every upstream stage at
    full parallelism and costs one sampler-free shuffle of the bounded
    output — measured equal to coalesce on aggregated plans and strictly
    safer. Corpus-scaled outputs (per-doc reports, q02-style
    projections) still keep orderBy: funnelling an unbounded result
    through one partition does not survive a 100x scale-up, sampler or
    not. orderBy+limit(k) callers also keep orderBy: Catalyst compiles
    that to TakeOrdered, which is already sampler-free."""
    return df.repartition(1).sortWithinPartitions(*order)


def global_sort(df: DataFrame, *order: ColumnOrName) -> DataFrame:
    """Global sort via sampled range partitioning (tez-tests/.../examples/
    Sort.java:102-170 uses InputSampler + TotalOrderPartitioner; Spark's
    RangePartitioning samples automatically — no 1-task bottleneck like
    OrderedWordCount's parallelism-1 final vertex)."""
    return df.orderBy(*order)


def top_k(df: DataFrame, k: int, *order: ColumnOrName) -> DataFrame:
    """Global top-k: per-partition top-k then merge (TakeOrderedAndProject —
    no full sort, no full shuffle)."""
    return df.orderBy(*order).limit(k)


def secondary_sort(
    df: DataFrame,
    partition_keys: Sequence[ColumnOrName],
    sort_keys: Sequence[ColumnOrName],
) -> DataFrame:
    """Secondary sort: partition by k1, order by (k1,k2) within partition
    (tez-tests/.../examples/SecondarySort.java:54-148; FirstPartitioner +
    TEZ_RUNTIME_KEY_SECONDARY_COMPARATOR_CLASS,
    TezRuntimeConfiguration.java:503)."""
    return df.repartition(*partition_keys).sortWithinPartitions(
        *partition_keys, *sort_keys
    )


def top_k_per_group(
    df: DataFrame,
    group_keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k — the query-level use of secondary sort. Window
    row_number; rank cast to long for a stable cross-engine schema."""
    w = Window.partitionBy(*group_keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )


# ---------------------------------------------------------------------------
# Test/load utilities (reference tier-3 test corpus parity)
# ---------------------------------------------------------------------------

def sleep_map(df: DataFrame, seconds: float) -> DataFrame:
    """Synthetic per-task load: pass rows through after sleeping once per
    task (SleepProcessor parity, tez-runtime-library/.../processor/
    SleepProcessor.java:47 — Tez's utility for scheduling/speculation
    experiments). Use in fault-tolerance/speculation tests and bench
    calibration; never in a real pipeline."""
    import time

    schema = df.schema

    def fn(batches):
        time.sleep(seconds)
        yield from batches

    return df.mapInPandas(fn, schema)


def straggler_map(
    df: DataFrame,
    slow_partition: int = 0,
    slow_seconds: float = 10.0,
    fast_seconds: float = 0.3,
) -> DataFrame:
    """Synthetic straggler: every task sleeps `fast_seconds`, except the
    FIRST attempt of `slow_partition` which sleeps `slow_seconds`. A retry
    or speculative copy of the slow task (attemptNumber > 0) runs fast —
    the canonical speculative-execution experiment (SleepProcessor parity,
    tez-runtime-library/.../processor/SleepProcessor.java:47, as driven by
    the reference's speculation tests,
    tez-dag/.../dag/app/dag/speculation/legacy/LegacySpeculator.java).
    Test/calibration utility; never in a real pipeline."""
    import time

    schema = df.schema

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == slow_partition and ctx.attemptNumber() == 0:
            time.sleep(slow_seconds)
        else:
            time.sleep(fast_seconds)
        yield from batches

    return df.mapInPandas(fn, schema)


def flaky_once(df: DataFrame, marker_dir: str, fail_partition: int = 0) -> DataFrame:
    """Fault-injection passthrough: the task for `fail_partition` raises on
    its FIRST attempt and succeeds on retry — the Spark translation of the
    reference's failure-injecting TestProcessor/TestInput corpus
    (tez-tests/src/test/java/org/apache/tez/test/TestFaultTolerance.java:67,
    TestProcessor.java). Requires a master with task retries
    (local[N,F], F>=2, or any real cluster where spark.task.maxFailures
    defaults to 4). Each attempt drops a marker file p{partition}_a{attempt}
    in marker_dir so tests can assert a retry actually happened.

    Determinism-under-retry is the property being verified: every operator
    in this engine recomputes identical partitions on retry (no
    monotonically_increasing_id / rand in any declared query path)."""
    import os as _os

    schema = df.schema

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid, att = ctx.partitionId(), ctx.attemptNumber()
        _os.makedirs(marker_dir, exist_ok=True)
        with open(_os.path.join(marker_dir, f"p{pid}_a{att}"), "w"):
            pass
        if pid == fail_partition and att == 0:
            raise RuntimeError("injected fault (TestFaultTolerance parity)")
        yield from batches

    return df.mapInPandas(fn, schema)


# ---------------------------------------------------------------------------
# Processor escape hatch
# ---------------------------------------------------------------------------

def processor(
    df: DataFrame,
    fn: Callable,
    schema: str,
) -> DataFrame:
    """Arbitrary per-partition processor — Tez's entire UDF surface is the
    Processor API (AbstractLogicalIOProcessor,
    tez-api/.../runtime/api/AbstractLogicalIOProcessor.java:30;
    SimpleProcessor.java:45). mapInPandas = processor over Arrow record
    batches: fn(iter[pd.DataFrame]) -> iter[pd.DataFrame]."""
    return df.mapInPandas(fn, schema)


def grouped_processor(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable,
    schema: str,
) -> DataFrame:
    """Per-key-group processor — KeyValuesReader semantics (key + iterable
    of values, tez-runtime-library/.../library/api/KeyValuesReader.java:42-67)
    as applyInPandas. Note: materializes each group; for huge groups prefer
    window functions or secondary_sort."""
    return df.groupBy(*keys).applyInPandas(fn, schema)


def streamed_grouped_processor(
    df: DataFrame,
    keys: Sequence[str],
    sort_keys: Sequence[str],
    fn: Callable,
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """KeyValuesReader semantics with BOUNDED per-group memory — the
    streamed secondary-sort escape hatch SURVEY.md §7 names as the known
    hard part. grouped_processor (applyInPandas) materializes each key's
    whole group in one Python worker, which a hot key (one user with
    10^8 events in a 100TB feed) turns into an OOM; this variant is the
    reference's actual execution shape: partition by the GROUP keys,
    sort within partitions by (group, secondary) keys, then stream each
    group's values through `fn` as an iterator — exactly
    OrderedGroupedKVInput + ValuesIterator (tez-runtime-library/.../
    input/OrderedGroupedKVInput.java:77, common/ValuesIterator.java:45;
    secondary comparator TezRuntimeConfiguration.java:503).

    RDD-level by necessity (the DF surface has no streamed-group
    iterator), via repartitionAndSortWithinPartitions: PySpark's
    ExternalSorter spills the sort to disk, so a group larger than
    worker memory streams instead of OOMing — `fn` sees values in
    sort_keys order and must itself hold only O(1) state.

    fn(key_tuple, values_iter) -> iterable of output tuples matching
    `schema`. Rows stream in ascending (keys, sort_keys) order; sort-key
    columns must not be None (Python cannot order None against values).
    Prefer window functions / groupBy().agg() whenever the aggregation
    is expressible declaratively — this is the escape hatch, not the
    default path."""
    from itertools import groupby

    n_keys = len(keys)
    cols = list(keys) + list(sort_keys)
    rest = [c for c in df.columns if c not in cols]
    ordered = df.select(*cols, *rest)
    n_parts = num_partitions or ordered.rdd.getNumPartitions() or 32

    def to_kv(row):
        return (tuple(row[: len(cols)]), tuple(row))

    def part_fn(composite):
        import pyspark.rdd as _r

        return _r.portable_hash(composite[:n_keys])

    def run(part):
        for gk, pairs in groupby(part, key=lambda kv: kv[0][:n_keys]):
            yield from fn(gk, (v for _, v in pairs))

    out = (
        ordered.rdd.map(to_kv)
        .repartitionAndSortWithinPartitions(n_parts, part_fn)
        .mapPartitions(run, preservesPartitioning=False)
    )
    return df.sparkSession.createDataFrame(out, schema)


def cogrouped_processor(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    fn: Callable,
    schema: str,
) -> DataFrame:
    """Two-input per-key-group processor — the vertex-with-two-grouped-
    inputs shape (SortMergeJoinProcessor reads TWO OrderedGroupedKVInputs
    and walks both sides of each key,
    tez-examples/.../SortMergeJoinExample.java:248-313). Spark's literal
    equivalent is cogroup + applyInPandas: both sides hash-shuffle on the
    keys once, and fn(left_pdf, right_pdf) sees each key's complete group
    from BOTH inputs as Arrow batches.

    Use only when the per-key logic genuinely can't be a declarative join
    (custom merge semantics, per-key model application); a plain join
    stays JVM-side and AQE-optimizable. Each key's two groups are
    materialized in one Python worker — same bounded-group caveat as
    grouped_processor."""
    return (
        left.groupBy(*keys).cogroup(right.groupBy(*keys)).applyInPandas(fn, schema)
    )
