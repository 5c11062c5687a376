"""Runtime-optimization parity checks (SURVEY.md §4): the Tez mechanisms
this engine deliberately delegates to AQE, asserted at the plan level."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_aqe_coalesces_small_shuffle(spark):
    """ShuffleVertexManager auto-reduce parallelism parity
    (ShuffleVertexManager.java:64, repack to ~100MB per task): with AQE on,
    a tiny groupBy must not keep all 32 configured shuffle partitions."""
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        agg = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
        agg.collect()  # materialize so AQE finalizes the plan
        n_parts = agg.rdd.getNumPartitions()
        assert n_parts < 32, f"AQE did not coalesce: {n_parts} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_aqe_broadcasts_small_join_side(spark):
    """Broadcast-edge parity decided at run time: joining a fact to a
    filtered-tiny dim must end up a BroadcastHashJoin even without an
    explicit hint (ShuffleVertexManager/broadcast edge selection is
    Catalyst+AQE's job here)."""
    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part").filter(F.col("p_size") > 40)
    j = li.join(part, li.l_partkey == part.p_partkey)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    """TezSplitGrouper/InputInitializer pruning parity: predicates must
    appear as scan-level DataFilters, projections as a pruned ReadSchema."""
    from tez_spark.plans.queries import q01

    plan = q01(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "Contains(text" in plan  # pushed LIKE
    # pruned schema: only the 3 referenced columns are read
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "lang" not in scan_line and "source" not in scan_line


def test_partition_pruning_on_partitioned_sink(spark):
    """MultiMROutput + InputInitializer pruning, end to end: write
    partitioned by key, read back with a key predicate, and assert the
    scan prunes at the PARTITION level (PartitionFilters, not just row
    filters) — this is what makes partitioned layouts pay off at 100TB."""
    import os
    import tempfile

    from tez_spark.sources import write_partitioned
    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "by_flag")
        write_partitioned(li, out, ["l_returnflag"])
        back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "l_returnflag" in plan.split("PartitionFilters")[1].split("]")[0]
        want = li.filter(F.col("l_returnflag") == "R").count()
        assert back.count() == want


def test_dynamic_partition_pruning_prunes_fact_scan(spark):
    """Dynamic partition pruning, end to end (VERDICT r7 item 2 — the
    last SURVEY §4 delegation that was claimed but not demonstrated):
    the reference's InputInitializer event hook
    (tez-api/.../runtime/api/InputInitializer.java:64-76) is what lets
    Hive-on-Tez prune fact splits from a dim filter discovered at run
    time; the Spark delegation is Catalyst's DPP. Write events
    partitioned by date, join against a dim filtered AFTER the scan
    (so static pruning can't see it), and assert the fact scan carries
    a dynamicpruning PartitionFilter AND reads fewer partitions than
    exist — pinned at the plan level the same way bloom-filter
    injection is below."""
    import os
    import tempfile

    from pyspark.sql import Window

    from tez_spark.sources import write_partitioned
    from tez_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "d", F.to_date("ts")
    )
    with tempfile.TemporaryDirectory() as tmp:
        fact_path = os.path.join(tmp, "ev_by_d")
        write_partitioned(ev, fact_path, ["d"])
        fact = spark.read.parquet(fact_path)
        n_days = fact.select("d").distinct().count()
        assert n_days > 1, "fixture has a single day: DPP unobservable"
        # dim: one attribute row per day; the filter selects ONE day by
        # an attribute DPP can only learn by executing the dim side.
        # Integer comparison, not a bare boolean flag: PartitionPruning's
        # isLikelySelective heuristic admits comparisons/IN/LIKE but not
        # a naked boolean attribute — with a flag column DPP silently
        # never fires (found while writing this test).
        dim_path = os.path.join(tmp, "day_dim")
        (
            fact.select("d")
            .distinct()
            .withColumn("day_rank", F.row_number().over(Window.orderBy("d")))
            .write.mode("overwrite")
            .parquet(dim_path)
        )
        dim = spark.read.parquet(dim_path).filter(F.col("day_rank") == 1)
        j = fact.join(dim, "d").groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan, (
            "no DPP subquery in the fact scan's PartitionFilters:\n" + plan
        )
        rows = j.collect()  # materialize: DPP subquery actually executes
        # value check: same result as the statically-filtered equivalent
        special_day = (
            spark.read.parquet(dim_path)
            .filter(F.col("day_rank") == 1)
            .collect()[0]["d"]
        )
        want = {
            (r["event_type"], r["n"])
            for r in ev.filter(F.col("d") == F.lit(special_day))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {(r["event_type"], r["n"]) for r in rows} == want


def test_session_defaults(spark):
    """The session factory's runtime-parity defaults are in effect:
    AQE (ShuffleVertexManager analog), skew-join (FairShuffleVertexManager
    analog), UTC determinism. (Speculation, the LegacySpeculator analog,
    is a spark-submit-time core conf — documented in session.py.)"""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_concurrent_query_submission(spark):
    """Session-mode parity: Tez sessions accept concurrent DAGs
    (TezClient.submitDAG on a shared session); a shared SparkSession with
    FAIR scheduling runs concurrently submitted queries to completion
    with correct, independent results."""
    from concurrent.futures import ThreadPoolExecutor

    from tests.conftest import SF_DIR
    from tez_spark.plans.queries import QUERIES

    names = ["q03", "q05", "q07", "q13"]

    def run(name):
        return name, QUERIES[name](spark, SF_DIR).count()

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = dict(pool.map(run, names))
    want = {n: QUERIES[n](spark, SF_DIR).count() for n in names}
    assert got == want
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"


def _registry_names():
    from tez_spark.plans.registry import all_queries

    return sorted(all_queries())


# The adjudicated BroadcastNestedLoopJoin rows (PLANS.md's 9 BNLJ=1
# rows, each spot-verified r11: the broadcast side is a single-row
# aggregate/bounds or a tiny literal grid, i.e. a scalar-append). A new
# BNLJ anywhere else fails test_plan_shape_guard loudly.
BNLJ_ALLOWED = frozenset({
    "q11", "tpch11", "tpch22", "cms_heavyhitters", "cross_join_chunked",
    "cross_join_bucketed", "pmi_collocations", "text_logprob",
    "tfidf_top_terms",
})


@pytest.mark.parametrize("name", _registry_names())
def test_plan_shape_guard(spark, name):
    """Scale-guard walk of every registry query's physical plan.

    Catches two failure classes at plan-build time, before any driver run:
    (1) analysis errors — a fixture-encoding change (like round 3's
    TIMESTAMP_NTZ regeneration) surfaces here as an AnalysisException the
    moment the plan is built; (2) scale anti-patterns — a CartesianProduct
    outside the declared cross-join queries, or monotonically_increasing_id
    / rand() sneaking into a declared-deterministic query path.

    BroadcastNestedLoopJoin is PINNED to the adjudicated scalar-append
    rows (VERDICT r11 item 3): each broadcasts a single-row total/bounds
    or a tiny literal grid — the correct plan for "append a scalar to
    every row" — and nothing else may plan one. The r11 guard allowed
    BNLJ unconditionally on a comment-level assumption, so a regression
    planning a corpus-sized side under a BNLJ would have passed
    silently; now any NEW BNLJ row fails here with this adjudication
    text until its small side is reviewed and the row added."""
    from tez_spark.plans.registry import all_queries

    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()

    # q11 is the declared theta/cartesian query (Tez CartesianProduct edge
    # parity); everything else must never cross-product. In particular
    # cross_join_chunked's rank-based plan (r6) computes the dominance
    # count with a window instead of materializing pairs — its only
    # product is the broadcast NLJ over the 25-nation dim.
    if name != "q11":
        assert "CartesianProduct" not in plan, f"{name}: unplanned cartesian"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: BroadcastNestedLoopJoin outside the adjudicated "
            f"scalar-append set {sorted(BNLJ_ALLOWED)} — verify the "
            "broadcast side is a single-row/tiny-literal relation, then "
            "add the row here AND regenerate PLANS.md"
        )
    assert "monotonically_increasing_id" not in plan, (
        f"{name}: nondeterministic id generator in a declared query"
    )
    assert " rand(" not in plan.lower(), (
        f"{name}: rand() in a declared-deterministic query"
    )


def test_bnlj_guard_catches_corpus_side_nested_loop(spark):
    """Red-case proof for the pinned BNLJ guard: a non-equi join between
    two corpus tables plans a BroadcastNestedLoopJoin, and the guard's
    detection substring matches it — so a registry regression of this
    shape would fail test_plan_shape_guard, not pass silently."""
    from tests.conftest import SF_DIR
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    # corpus × corpus on an inequality — the anti-pattern the guard exists
    # to catch (Spark has no equi-key to hash on, so it nests the loop)
    bad = docs.alias("a").join(
        docs.alias("b"),
        F.col("a.n_chars") < F.col("b.n_chars"),
        "left",
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:500]


def test_tpch_plan_shapes(spark):
    """Scale-design evidence for the TPC-H suite: tpch06's filters reach
    the parquet scan (pushdown + pruned schema), and tpch05's dim chain
    broadcasts rather than shuffling the small sides."""
    from tests.conftest import SF_DIR
    from tez_spark.plans.tpch import q_tpch05, q_tpch06

    p6 = q_tpch06(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in p6 and "l_shipdate" in p6.split("PushedFilters:")[1][:300]
    # projection pruning: the scan must not read revenue-irrelevant cols
    read = p6.split("ReadSchema:")[1][:300]
    assert "l_returnflag" not in read and "l_extendedprice" in read

    p5 = q_tpch05(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in p5 or "BroadcastHashJoin" in p5


def test_stats_broadcast_hints_from_footer_rowcount(spark, tmp_path):
    """r13 broadcast-hint policy: SF-scaling dims (part/supplier and
    their filtered subsets) must not carry a blind static F.broadcast —
    at the 100TB SF that hint is an executor OOM. stats_broadcast
    decides from the base table's parquet FOOTER row count (real
    statistics, no Spark job): under the cap the side is hinted (so
    small-SF plans broadcast from the start, no wasted probe-side
    shuffle write from a late AQE conversion), over the cap it is left
    to Catalyst/AQE, which plans the correct shuffle join."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tez_spark.operators.core import stats_broadcast

    pq.write_table(
        pa.table({"k": list(range(100)), "v": [f"x{i}" for i in range(100)]}),
        str(tmp_path / "dim.parquet"),
    )
    dim = spark.read.parquet(str(tmp_path / "dim.parquet"))

    hinted = stats_broadcast(dim, str(tmp_path), "dim", cap_rows=1000)
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan, "under-cap side lost its broadcast hint"

    unhinted = stats_broadcast(dim, str(tmp_path), "dim", cap_rows=10)
    plan = unhinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, "over-cap side must stay unhinted"


def test_tpch_scaling_dims_carry_no_static_broadcast():
    """Source-level guard for the r13 policy: in plans/tpch.py a literal
    F.broadcast( may wrap only scale-bounded sides — nation/region and
    1-row scalar aggregates — never part/supplier/customer or a
    DataFrame derived from them (those go through stats_broadcast)."""
    import re

    src = open("tez_spark/plans/tpch.py").read()
    allowed = (
        "nation", "region", "n1", "n2", "total", "mx", "avg_bal",
    )
    # ADVICE r13: every F.broadcast( call site must be accounted for —
    # a non-identifier argument (parenthesized expression, inline join,
    # leading comment/newline) must FAIL, not silently evade the scan.
    total_sites = len(re.findall(r"F\.broadcast\(", src))
    ident_sites = list(
        re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*[),.]", src)
    )
    assert len(ident_sites) == total_sites, (
        f"{total_sites - len(ident_sites)} F.broadcast call(s) whose "
        "argument is not a bare identifier — the guard cannot classify "
        "them; bind the side to a name (or route it via stats_broadcast)"
    )
    for m in ident_sites:
        assert m.group(1) in allowed, (
            f"static F.broadcast on SF-scaling side {m.group(1)!r} — "
            "use stats_broadcast"
        )


def test_tpch15_default_plan_has_no_global_window(spark):
    """r13 plan guard (the exactsubstr_spans precedent applied to the
    TPC-H suite): the registry DEFAULT tpch15 must take the global
    revenue max as a partial-agg'd parallel scalar aggregate over the
    persisted supplier-scale view + a 1-row broadcast join — NEVER as
    max() OVER an EMPTY window, which buffers every supplier row in one
    un-splittable WindowExec partition (~1e9 rows on one core at TPC-H
    SF100k). The persist also pins determinism: max and probe read the
    same materialized doubles, so the float-equality join cannot be
    broken by summation-order ulp drift between separately executed
    reduce stages. The DuckDB oracle pins its values."""
    from tests.conftest import SF_DIR
    from tez_spark.operators.core import release_caches
    from tez_spark.plans.tpch import q_tpch15

    default = q_tpch15(spark, SF_DIR)
    plan = default._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan, "global max fell back to a window"
    assert "BroadcastExchange" in plan, "scalar max lost its broadcast join-back"
    got = default.collect()
    release_caches()
    assert len(got) >= 1, "no top supplier"


def test_aqe_splits_skewed_join_partition(spark):
    """FairShuffleVertexManager skew-splitting parity
    (FairShuffleVertexManager.java:113-130 splits an oversized source
    partition across reducers): AQE must detect a hot join key at run
    time and split its shuffle partition (SortMergeJoin marked
    skew=true), with results identical to the unsplit join. Thresholds
    are lowered so local-scale data trips the same code path a 100TB
    skewed key would."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 95% of fact rows share key 0: one shuffle partition dwarfs the rest
        fact = spark.range(0, 120_000).select(
            F.when(F.col("id") < 114_000, 0)
            .otherwise(F.col("id") - 113_000)  # non-hot tail: keys 1000..6999
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # NOTE: no same-key aggregation downstream — AQE refuses to split
        # a skewed join whose output partitioning a later operator
        # requires (splitting would break the required distribution).
        joined = fact.join(dim, "k")
        rows = joined.collect()  # materialize THIS plan so AQE finalizes it
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew join did not trigger:\n{plan[:2000]}"
        # correctness under the split: the hot key's rows survive exactly
        # once each, and the non-hot tail (keys 1000..1999 ∈ dim) is intact
        assert len(rows) == 114_000 + 1_000
        assert sum(1 for r in rows if r.k == 0) == 114_000
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_reduces_shuffle_join_probe(spark):
    """Runtime semi-join reduction: when a shuffle join's build side is
    selective, Catalyst injects a bloom_filter_agg on the build side and
    a might_contain probe filter on the stream side, cutting the probe
    shuffle before it happens — free capability the reference has no
    analog for (its edges ship everything; SURVEY §2.4). Pinned here so
    a conf regression (runtime.bloomFilter.enabled) is caught."""
    import pyspark.sql.functions as F

    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # local fixtures sit below the default size thresholds; lower them so
    # the injection logic (not the fixture size) is what's under test
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_cms_heavyhitters_topk_is_take_ordered_not_global_window(spark):
    """r14 self-audit (the tpch15 guard class): the exact top-20 rank
    must plan as TakeOrderedAndProject (per-partition heaps + a 20-row
    driver merge), never a row_number window with no partition key —
    that form moves the ENTIRE distinct-token vocabulary to one
    WindowExec partition at scale. Fleet-wide twin: tools/gen_plans.py
    hard-fails on empty-partition windows outside its allowlist."""
    from tez_spark.plans.registry import all_queries

    df = all_queries()["cms_heavyhitters"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "windowspecdefinition" not in plan, (
        "a window crept back into the heavy-hitter top-k:\n" + plan[:1500]
    )
