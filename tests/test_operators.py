"""Operator-family unit tests (SURVEY.md §5 tier 1): DAG facade,
explicit join strategies, partitioned sink, processor escape hatch."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_dag_facade_wordcount(spark):
    """WordCount as a Tez-vocabulary DAG (WordCount.java:130-160 shape)."""
    from tez_spark.operators import count_by, flat_map_tokens
    from tez_spark.plans import DAGBuilder, DataMovement
    from tez_spark.sources.catalog import load_table

    dag = DAGBuilder("wordcount")
    dag.add_vertex(
        "tokenizer",
        source=lambda s: load_table(s, SF_DIR, "documents"),
        processor=lambda dfs: flat_map_tokens(dfs[0], "text", out_col="word"),
    )
    dag.add_vertex("summation", processor=lambda dfs: count_by(dfs[0], "word"))
    dag.add_edge("tokenizer", "summation", DataMovement.SCATTER_GATHER, keys=["word"])
    got = dag.build(spark)["summation"]

    want = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_dag_facade_union_group(spark):
    from tez_spark.plans import DAGBuilder
    from tez_spark.sources.catalog import load_table

    dag = DAGBuilder("union")
    dag.add_vertex(
        "o", source=lambda s: load_table(s, SF_DIR, "orders").select(
            F.col("o_custkey").alias("k"))
    )
    dag.add_vertex(
        "c", source=lambda s: load_table(s, SF_DIR, "customer").select(
            F.col("c_custkey").alias("k"))
    )
    dag.add_vertex_group("both", ["o", "c"])
    out = dag.build(spark)["both"]
    n_o = load_table(spark, SF_DIR, "orders").count()
    n_c = load_table(spark, SF_DIR, "customer").count()
    assert out.count() == n_o + n_c


def _two_sink_dag(spark, out_a: str, out_b: str, fail_b: bool):
    """Two-output DAG (MultipleCommitsExample.java shape): one source
    fans into two sinks; the second sink's vertex optionally fails AT
    EXECUTION TIME (raise_error evaluates on the executors, after sink A
    has already been written by the sequential committer)."""
    from tez_spark.plans import DAGBuilder

    dag = DAGBuilder("multi_commit")
    dag.add_vertex("src", source=lambda s: s.range(0, 1000, 1, 4))
    dag.add_vertex("a", processor=lambda dfs: dfs[0].selectExpr("id * 2 AS x"))
    b_proc = (
        (lambda dfs: dfs[0].select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("injected sink-b failure")))
            .otherwise(F.lit(1)).alias("x")))
        if fail_b
        else (lambda dfs: dfs[0].selectExpr("id + 1 AS x"))
    )
    dag.add_vertex("b", processor=b_proc)
    dag.add_edge("src", "a")
    dag.add_edge("src", "b")
    dag.add_data_sink("a", out_a)
    dag.add_data_sink("b", out_b)
    return dag


def _has_committed_parquet(path: str) -> bool:
    """Committed output = top-level part files (an aborted Spark write
    still creates the directory, holding only _temporary debris)."""
    import os

    return os.path.isdir(path) and any(
        f.startswith("part-") and f.endswith(".parquet")
        for f in os.listdir(path)
    )


def test_commit_scope_vertex_leaves_partial_output(spark, tmp_path):
    """VERTEX scope = commit-on-vertex-success: sink A is visible even
    though sink B's vertex failed afterwards."""
    import pytest as _pytest

    from tez_spark.plans import CommitScope

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    dag = _two_sink_dag(spark, out_a, out_b, fail_b=True)
    with _pytest.raises(Exception, match="injected sink-b failure"):
        dag.run_committed(spark, CommitScope.VERTEX)
    assert spark.read.parquet(out_a).count() == 1000  # committed
    assert not _has_committed_parquet(out_b)


def test_commit_scope_dag_is_all_or_nothing(spark, tmp_path):
    """DAG scope = commit-on-DAG-success: the same failure leaves NO
    final path (sink A's staged output is discarded), and the success
    case commits both."""
    import os

    import pytest as _pytest

    from tez_spark.plans import CommitScope

    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    dag = _two_sink_dag(spark, out_a, out_b, fail_b=True)
    with _pytest.raises(Exception, match="injected sink-b failure"):
        dag.run_committed(spark, CommitScope.DAG)
    assert not os.path.exists(out_a) and not os.path.exists(out_b)
    assert not [p for p in os.listdir(tmp_path) if "__staging__" in p], (
        "staging debris left after a failed DAG-scoped commit"
    )

    ok = _two_sink_dag(spark, out_a, out_b, fail_b=False)
    ok.run_committed(spark, CommitScope.DAG)
    assert spark.read.parquet(out_a).count() == 1000
    assert spark.read.parquet(out_b).count() == 1000
    assert not [p for p in os.listdir(tmp_path) if "__staging__" in p]


def test_dag_mixed_broadcast_and_one_to_one(spark):
    """Both movement kinds composed in ONE DAG
    (BroadcastAndOneToOneExample.java:58 shape): a one-to-one narrow
    pipeline into the joiner plus a broadcast dim edge into the same
    joiner. Asserts the broadcast edge becomes a BroadcastHashJoin and the
    result matches the plain declarative equivalent."""
    from tez_spark.plans import DAGBuilder, DataMovement
    from tez_spark.sources.catalog import load_table

    dag = DAGBuilder("bcast_one_to_one")
    dag.add_vertex(
        "suppliers",
        source=lambda s: load_table(s, SF_DIR, "supplier"),
    )
    # ONE_TO_ONE consumer: narrow per-partition transform, no exchange
    dag.add_vertex(
        "normalize",
        processor=lambda dfs: dfs[0].select(
            "s_suppkey", "s_nationkey", F.upper(F.col("s_name")).alias("s_name_u")
        ),
    )
    dag.add_vertex(
        "nations",
        source=lambda s: load_table(s, SF_DIR, "nation").select(
            "n_nationkey", "n_name"
        ),
    )
    dag.add_vertex(
        "joiner",
        processor=lambda dfs: dfs[0].join(
            dfs[1], dfs[0].s_nationkey == dfs[1].n_nationkey
        ).select("s_suppkey", "s_name_u", "n_name"),
    )
    dag.add_edge("suppliers", "normalize", DataMovement.ONE_TO_ONE)
    dag.add_edge("normalize", "joiner", DataMovement.ONE_TO_ONE)
    dag.add_edge("nations", "joiner", DataMovement.BROADCAST)
    got = dag.build(spark)["joiner"]

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # 1-1 edges stay narrow

    sup = load_table(spark, SF_DIR, "supplier")
    nation = load_table(spark, SF_DIR, "nation")
    want = sup.join(nation, sup.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.upper(F.col("s_name")).alias("s_name_u"), "n_name"
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_dag_cycle_detection(spark):
    from tez_spark.plans import DAGBuilder, DataMovement

    dag = DAGBuilder("cyclic")
    dag.add_vertex("a", processor=lambda dfs: dfs[0])
    dag.add_vertex("b", processor=lambda dfs: dfs[0])
    dag.add_edge("a", "b", DataMovement.ONE_TO_ONE)
    dag.add_edge("b", "a", DataMovement.ONE_TO_ONE)
    try:
        dag.build(spark)
        raise AssertionError("cycle not detected")
    except ValueError as e:
        assert "cycle" in str(e)


def test_explicit_sort_merge_join_plan(spark):
    """The explicit SMJ operator produces a SortMergeJoin physical node."""
    from tez_spark.operators import sort_merge_join
    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    j = sort_merge_join(li, orders, li.l_orderkey == orders.o_orderkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert j.count() == li.join(orders, li.l_orderkey == orders.o_orderkey).count()


def test_broadcast_join_plan(spark):
    from tez_spark.operators import broadcast_join
    from tez_spark.sources.catalog import load_table

    sup = load_table(spark, SF_DIR, "supplier")
    nation = load_table(spark, SF_DIR, "nation")
    j = broadcast_join(sup, nation, sup.s_nationkey == nation.n_nationkey)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_join_validate(spark):
    from tez_spark.operators import join_validate
    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("k"))
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k"))
    # lineitem ⊆ orders on the key but not vice versa (orders w/o items)
    assert not join_validate(li, orders, ["k"])
    assert join_validate(orders, orders, ["k"])


def test_partitioned_write_roundtrip(spark):
    """MultiMROutput parity: partitionBy sink routes rows to key dirs."""
    from tez_spark.sources import write_partitioned
    from tez_spark.sources.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "by_flag")
        write_partitioned(li, out, ["l_returnflag"])
        flags = {
            p.split("=")[1]
            for p in os.listdir(out)
            if p.startswith("l_returnflag=")
        }
        want = {r.l_returnflag for r in li.select("l_returnflag").distinct().collect()}
        assert flags == want
        back = spark.read.parquet(out)
        assert back.count() == li.count()


def test_processor_escape_hatch(spark):
    """mapInPandas processor (Tez Processor API parity)."""
    from tez_spark.operators import processor
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")

    def double_price(batches):
        for pdf in batches:
            yield pdf.assign(double_total=pdf.o_totalprice * 2)[
                ["o_orderkey", "double_total"]
            ]

    out = processor(orders, double_price, "o_orderkey long, double_total double")
    row = out.orderBy("o_orderkey").first()
    want = orders.orderBy("o_orderkey").first()
    assert abs(row.double_total - want.o_totalprice * 2) < 1e-9


def test_cogrouped_processor_matches_declarative_join(spark):
    """Two-input grouped processor (SortMergeJoinProcessor parity: a
    vertex reading TWO OrderedGroupedKVInputs): a hand-written per-key
    inner join over cogrouped Arrow batches produces exactly the
    declarative join's answer."""
    from tez_spark.operators import cogrouped_processor
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")

    def merge(left, right):
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame(
                columns=["o_custkey", "o_totalprice", "c_mktsegment"]
            )
        return left.merge(
            right, left_on="o_custkey", right_on="c_custkey"
        )[["o_custkey", "o_totalprice", "c_mktsegment"]]

    got = cogrouped_processor(
        orders,
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        ["o_custkey"],
        lambda l, r: merge(l, r.rename(columns={"o_custkey": "c_custkey"})),
        "o_custkey long, o_totalprice double, c_mktsegment string",
    )
    want = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_custkey", "o_totalprice", "c_mktsegment"
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_grouped_processor(spark):
    """applyInPandas per-group processor (KeyValuesReader parity)."""
    from tez_spark.operators import grouped_processor
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")

    def span(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "o_custkey": [pdf.o_custkey.iloc[0]],
                "span": [pdf.o_totalprice.max() - pdf.o_totalprice.min()],
            }
        )

    out = grouped_processor(
        orders, ["o_custkey"], span, "o_custkey long, span double"
    )
    assert out.count() == orders.select("o_custkey").distinct().count()


def test_salted_join_equals_plain_join(spark):
    """Skew salting must not change join semantics (same multiset of
    output rows as the plain equi-join)."""
    from tez_spark.operators import salted_join
    from tez_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        (F.col("user_id") % 50).alias("k"), "event_id"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        (F.col("c_custkey") % 50).alias("k"), "c_custkey"
    )
    plain = ev.join(cust, "k").groupBy("k").count()
    salted = salted_join(ev, cust, "k", salt=4).groupBy("k").count()
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_secondary_sort_partition_order(spark):
    """Rows within each partition are sorted by (k1, k2)."""
    from tez_spark.operators import secondary_sort
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    ss = secondary_sort(orders, ["o_custkey"], ["o_orderdate"])

    def check(it):
        import pandas as pd

        for pdf in it:
            ok = True
            if len(pdf) > 1:
                keys = list(zip(pdf.o_custkey, pdf.o_orderdate))
                ok = keys == sorted(keys)
            yield pd.DataFrame({"ok": [ok]})

    flags = ss.mapInPandas(check, "ok boolean").collect()
    assert all(r.ok for r in flags)


def test_chunked_cross_join_bounds_per_task_pairs(spark):
    """FairCartesianProductVertexManager parity: the grid must (a) give
    the same answer as a naive cross join and (b) bound per-task pair
    counts — with broadcast disabled, CartesianProductExec's task count
    is numA x numB, so the target_pairs budget fixes the grid size."""
    import pyspark.sql.functions as F

    from tez_spark.operators.core import chunked_cross_join, cross_join

    a = spark.range(300).select(F.col("id").alias("x"))
    b = spark.range(200).select(F.col("id").alias("y"))
    theta = F.col("x") > F.col("y")

    naive = {(r.x, r.y) for r in cross_join(a, b, theta).collect()}
    # force the large x large regime: no broadcast, no AQE re-planning
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = chunked_cross_join(a, b, theta, target_pairs_per_task=600)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" in plan
        # edge_a = sqrt(600*300/200) = 30 -> numA = 10;
        # edge_b = sqrt(600*200/300) = 20 -> numB = 10; grid = 100 tasks
        # of <= 30*20 = 600 pairs each.
        got_parts = cross_join(
            a.repartition(10), b.repartition(10)
        ).rdd.getNumPartitions()
        assert got_parts == 100
        assert {(r.x, r.y) for r in out.collect()} == naive
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_catalog_row_count_feeds_chunked_grid(spark):
    """catalog.table_row_count serves exact cardinalities from parquet
    footers (no Spark job), and chunked_cross_join accepts them as sizing
    hints — so a query path never runs the operator's fallback count()
    jobs (r5 advice: the counts are one metadata read away)."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_DIR
    from tez_spark.operators.core import chunked_cross_join
    from tez_spark.sources.catalog import load_table, table_row_count

    n_c = table_row_count(SF_DIR, "customer")
    n_s = table_row_count(SF_DIR, "supplier")
    c = load_table(spark, SF_DIR, "customer")
    s = load_table(spark, SF_DIR, "supplier")
    assert n_c == c.count() and n_s == s.count()
    # cached footer stat: second call is a dict hit (same fingerprint)
    assert table_row_count(SF_DIR, "customer") == n_c

    out = chunked_cross_join(
        c.select("c_custkey"), s.select("s_suppkey"),
        theta=F.col("c_custkey") == F.col("s_suppkey"),
        target_pairs_per_task=50_000, n_left=n_c, n_right=n_s,
    )
    assert out.count() == min(n_c, n_s)


def test_streamed_grouped_processor_hot_key_bounded_memory(spark):
    """Streamed secondary sort (SURVEY §7's known hard part): one
    deliberately hot key holds ~90% of all rows, and the per-group
    aggregation runs with O(1) state over a sorted value ITERATOR —
    never a materialized group (the applyInPandas variant's OOM shape).
    The function computes order-sensitive aggregates (first/last value,
    count of ascending adjacent steps), so a wrong or unsorted stream
    cannot produce the right answer by accident; results are checked
    against a declarative window/groupBy reference."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from tez_spark.operators.core import streamed_grouped_processor

    n = 120_000
    df = (
        spark.range(n)
        .select(
            # key 0 is the hot key: ~90% of rows; keys 1..4 share the rest
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise((F.floor(F.col("id") / 10) % 4 + 1).cast("int"))
            .alias("k"),
            # a sort column with a deterministic shuffle of values
            ((F.col("id") * 48271) % 2_000_003).cast("long").alias("ts"),
            (F.col("id") % 1000).cast("long").alias("v"),
        )
    )

    def agg(key, values):
        # values stream in ts order; keep only O(1) state
        n_rows = n_up = 0
        first_v = last_v = prev_ts = None
        for row in values:
            ts, v = row[1], row[2]
            if prev_ts is not None:
                assert ts >= prev_ts, "values not streamed in sort order"
                n_up += 1
            else:
                first_v = v
            prev_ts, last_v = ts, v
            n_rows += 1
        yield (key[0], n_rows, first_v, last_v, n_up)

    got = {
        r.k: r
        for r in streamed_grouped_processor(
            df, ["k"], ["ts"], agg,
            "k int, n_rows long, first_v long, last_v long, n_up long",
            num_partitions=8,
        ).collect()
    }

    w = Window.partitionBy("k").orderBy("ts")
    ref = {
        r.k: r
        for r in df.withColumn("rn", F.row_number().over(w))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.struct("rn", "v")).alias("first_s"),
            F.max(F.struct("rn", "v")).alias("last_s"),
        )
        .select("k", "n_rows", F.col("first_s.v").alias("first_v"),
                F.col("last_s.v").alias("last_v"))
        .collect()
    }
    assert set(got) == set(ref) == {0, 1, 2, 3, 4}
    assert got[0].n_rows >= 0.85 * n  # the hot key really is hot
    for k, r in ref.items():
        g = got[k]
        assert (g.n_rows, g.first_v, g.last_v) == (r.n_rows, r.first_v, r.last_v), k
        assert g.n_up == g.n_rows - 1  # every adjacent step was ascending


def test_dag_custom_edge_routes_rows_exactly(spark):
    """CUSTOM DataMovement (EdgeManagerPluginOnDemand parity,
    tez-api/.../dag/api/EdgeManagerPluginOnDemand.java:186-340): a
    user-supplied router decides each row's destination partition
    EXACTLY — placement hash/range partitioning cannot express (here:
    all 'hot' keys pinned to partition 0, the rest spread round-robin).
    Asserts per-partition contents follow the routing decision and the
    data survives the RDD hop intact."""
    import pyspark.sql.functions as F

    from tez_spark.plans import DAGBuilder, DataMovement

    N_PARTS = 4

    def router(row):
        return 0 if row.k < 100 else 1 + (row.k % (N_PARTS - 1))

    dag = DAGBuilder("custom_route")
    dag.add_vertex(
        "src",
        source=lambda s: s.range(1000).select(F.col("id").alias("k")),
    )
    dag.add_vertex("sink", processor=lambda dfs: dfs[0])
    dag.add_edge(
        "src", "sink", DataMovement.CUSTOM, num_partitions=N_PARTS,
        router=router,
    )
    out = dag.build(spark)["sink"]

    placed = out.withColumn("p", F.spark_partition_id()).collect()
    assert {r.k for r in placed} == set(range(1000))  # intact through the hop
    for r in placed:
        assert r.p == router(r), (r.k, r.p)

    # the contract is validated at declaration time
    import pytest as _pytest

    bad = DAGBuilder("no_router")
    bad.add_vertex("a", source=lambda s: s.range(1))
    bad.add_vertex("b", processor=lambda dfs: dfs[0])
    with _pytest.raises(ValueError, match="CUSTOM edge requires"):
        bad.add_edge("a", "b", DataMovement.CUSTOM, num_partitions=4)


def test_mrjob_translator_wordcount_and_mrr_chain(spark):
    """MR-job-on-engine translator (YARNRunner.createDAG parity,
    tez-mapreduce/.../client/YARNRunner.java:405-410,479): a Hadoop-shaped
    mapper/combiner/reducer triple runs unchanged — wordcount equals the
    DataFrame plan — and `then()` chains a second reduce stage (MRR,
    MRRSleepJob shape) equal to two declarative groupBys."""
    import pyspark.sql.functions as F

    from tez_spark.plans.mrjob import MRJob
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )

    def tok_mapper(_key, text):  # TokenProcessor (WordCount.java:74-103)
        for w in text.split(" "):
            if w:
                yield (w, 1)

    def sum_reducer(key, values):  # SumProcessor (WordCount.java:114-139)
        yield (key, sum(values))

    got = {
        (r.key, r.value)
        for r in MRJob(tok_mapper, sum_reducer, combiner=sum_reducer)
        .run(spark, docs)
        .collect()
    }
    want = {
        (r.word, r.c)
        for r in load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want and got

    # MRR: stage 2 re-keys word counts by count-bucket and counts words
    # per bucket — map -> reduce -> reduce with one shuffle per stage
    def bucket_reducer(key, values):
        yield (str(sum(values) // 10), 1)

    def count_reducer(key, values):
        yield (key, sum(values))

    mrr = (
        MRJob(tok_mapper, bucket_reducer, combiner=sum_reducer)
        .then(count_reducer)
        .run(spark, docs)
    )
    got2 = {(r.key, r.value) for r in mrr.collect()}
    want2 = {
        (r.b, r.n)
        for r in load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.floor(F.col("c") / 10).cast("string").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    assert got2 == want2 and got2


def test_rank_dominance_bucketed_equals_exact_on_wide_key(spark):
    """rank_dominance_bucketed on a >10k-value right key: exact equality
    with an independent numpy all-pairs truth, candidate volume bounded
    by the bucket histograms (the reason the operator exists), and no
    CartesianProduct anywhere in the plan."""
    import numpy as np

    from tez_spark.operators.core import rank_dominance_bucketed

    rng = np.random.default_rng(7)
    K = 12_000
    S = 24_000
    C = 3_000
    G = 15
    B = 256
    s_keys = np.concatenate([np.arange(K), rng.integers(0, K, S - K)])
    s_vals = np.round(rng.uniform(-1000, 10_000, S), 2)
    c_groups = rng.integers(0, G, C)
    c_vals = np.round(rng.uniform(-1000, 10_000, C), 2)

    left = spark.createDataFrame(
        [(int(g), float(v)) for g, v in zip(c_groups, c_vals)],
        "grp int, bal double",
    )
    right = spark.createDataFrame(
        [(int(k), float(v)) for k, v in zip(s_keys, s_vals)],
        "key int, bal double",
    )
    out = rank_dominance_bucketed(
        left, right, "grp", "key", "bal", "bal", n_buckets=B
    )
    assert "CartesianProduct" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r.grp, r.key): r.n_dominant for r in out.collect()}

    # numpy truth: per right key, sorted values; dominance count per
    # customer via searchsorted(side=left) == #vals strictly below
    order = np.argsort(s_keys, kind="stable")
    sk, sv = s_keys[order], s_vals[order]
    starts = np.searchsorted(sk, np.arange(K), side="left")
    ends = np.searchsorted(sk, np.arange(K), side="right")
    want: dict[tuple[int, int], int] = {}
    for k in range(K):
        vals = np.sort(sv[starts[k]:ends[k]])
        if not len(vals):
            continue
        below = np.searchsorted(vals, c_vals, side="left")
        per_group = np.bincount(c_groups, weights=below, minlength=G)
        for g in range(G):
            n = int(per_group[g])
            if n > 0:
                want[(g, k)] = n
    assert got == want

    # candidate boundedness: the within-bucket equijoin's pair volume is
    # sum_b n_l[b]*n_r[b] — a ~B-fold reduction vs the C*S product the
    # window/cartesian forms would touch
    lo = min(s_vals.min(), c_vals.min())
    hi = max(s_vals.max(), c_vals.max())
    w = (hi - lo) / B
    lb = np.minimum(((c_vals - lo) / w).astype(int), B - 1)
    rb = np.minimum(((s_vals - lo) / w).astype(int), B - 1)
    nl = np.bincount(lb, minlength=B)
    nr = np.bincount(rb, minlength=B)
    candidates = int((nl * nr).sum())
    assert candidates * 10 < C * S, (
        f"within-bucket candidates {candidates} not bounded vs {C * S} pairs"
    )
    assert int(nl.max()) <= C // B + 64 and int(nr.max()) <= S // B + 64, (
        "per-bucket occupancy unbounded — bucketing is not spreading rows"
    )


def test_rank_dominance_bucketed_matches_window_plan_on_fixture(spark):
    """On the fixture's 25-value nation key the bucketed twin must return
    exactly what the registry's rank-window plan returns."""
    from tests.conftest import SF_DIR
    from tez_spark.operators.core import rank_dominance_bucketed
    from tez_spark.plans.queries_ext import q_cross_join_chunked
    from tez_spark.sources.catalog import load_table

    want = {
        (r.c_nationkey, r.s_nationkey, r.n_dominant)
        for r in q_cross_join_chunked(spark, SF_DIR).collect()
    }
    c = load_table(spark, SF_DIR, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, SF_DIR, "supplier").select("s_nationkey", "s_acctbal")
    got = {
        (r.c_nationkey, r.s_nationkey, r.n_dominant)
        for r in rank_dominance_bucketed(
            c, s, "c_nationkey", "s_nationkey", "c_acctbal", "s_acctbal"
        ).collect()
    }
    assert got == want and got


def test_rank_dominance_bucketed_stats_bounds_and_clamping(spark):
    """Supplied bucket bounds (the footer-stats fast path) must give
    exactly the computed-bounds answer — including with deliberately
    LOOSE bounds and with values OUTSIDE the supplied range (clamped to
    edge buckets, compared exactly in the within-bucket join)."""
    from tez_spark.operators.core import rank_dominance_bucketed

    left = spark.createDataFrame(
        [(0, -50.0), (0, 5.0), (1, 99.0), (1, 500.0)], "grp int, bal double"
    )
    right = spark.createDataFrame(
        [(10, -100.0), (10, 4.0), (11, 99.0), (12, 450.0)], "key int, bal double"
    )

    def run(**kw):
        return {
            (r.grp, r.key): r.n_dominant
            for r in rank_dominance_bucketed(
                left, right, "grp", "key", "bal", "bal", n_buckets=8, **kw
            ).collect()
        }

    want = run()  # computed bounds
    assert want  # sanity: some dominance exists
    assert run(bounds=(-100.0, 500.0)) == want  # exact stats
    assert run(bounds=(-1000.0, 10_000.0)) == want  # loose stats
    assert run(bounds=(0.0, 100.0)) == want  # STALE stats: values outside
    assert run(bounds=(7.0, 7.0)) == want  # degenerate: one bucket


def test_table_column_minmax_matches_scan(spark):
    """Footer statistics equal the scanned min/max on a fixture column."""
    from tests.conftest import SF_DIR
    from tez_spark.sources.catalog import load_table, table_column_minmax

    mm = table_column_minmax(SF_DIR, "supplier", "s_acctbal")
    assert mm is not None
    row = (
        load_table(spark, SF_DIR, "supplier")
        .agg(F.min("s_acctbal"), F.max("s_acctbal"))
        .collect()[0]
    )
    assert mm == (float(row[0]), float(row[1]))


def test_bounded_sort_equals_orderby_without_range_partitioning(spark):
    """bounded_sort must produce exactly orderBy's row order with NO
    range partitioning in the plan (the sampler job is the cost it
    exists to avoid), and must keep upstream stages parallel (it
    repartitions — never coalesces through the lineage)."""
    from tez_spark.operators.core import bounded_sort

    df = (
        spark.range(0, 10_000, 1, 8)
        .selectExpr("id % 37 AS k", "id AS v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    want = [tuple(r) for r in df.orderBy(F.desc("s"), "k").collect()]
    got_df = bounded_sort(df, F.desc("s"), "k")
    got = [tuple(r) for r in got_df.collect()]
    assert got == want and len(got) == 37

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Coalesce" not in plan, plan


def test_profile_columns_planted_nulls(spark):
    """profile_columns semantics pinned on shapes the orders fixture
    lacks: nulls in every column, an ALL-null column (min/max render
    NULL, n_distinct 0), duplicate values, and money rounding through
    the DECIMAL(18,2) formatter (2.005 -> '2.01', trailing zero kept)."""
    from tez_spark.plans.queries_ext import (
        fmt_long,
        fmt_money,
        fmt_str,
        profile_columns,
    )

    rows = [
        (1, 2.005, "b", None),
        (2, 1.0, None, None),
        (None, 1.0, "a", None),
        (2, None, "a", None),
    ]
    df = spark.createDataFrame(rows, "k long, m double, s string, e string")
    out = {
        r.col_name: (r.n_nulls, r.n_distinct, r.min_val, r.max_val)
        for r in profile_columns(
            df,
            [("e", fmt_str), ("k", fmt_long), ("m", fmt_money), ("s", fmt_str)],
        ).collect()
    }
    assert out == {
        "e": (4, 0, None, None),
        "k": (1, 2, "1", "2"),
        "m": (1, 2, "1.00", "2.01"),
        "s": (1, 2, "a", "b"),
    }


def test_profile_columns_formatters_keyed_by_module(spark):
    """ADVICE r17: the memoized expression families are keyed by each
    formatter's module and qualname, so two module-level functions both
    named `fmt` over the same column each get their own min/max."""
    import types

    from tez_spark.plans.queries_ext import profile_columns

    def fmt_from(module_name: str, expr: str):
        mod = types.ModuleType(module_name)
        exec(
            "from pyspark.sql import functions as F\n"
            f"def fmt(c):\n    return {expr}\n",
            mod.__dict__,
        )
        return mod.fmt

    plain = fmt_from("profile_fmt_plain", 'c.cast("string")')
    tagged = fmt_from("profile_fmt_tagged", 'F.concat(F.lit("#"), c.cast("string"))')
    df = spark.createDataFrame([(1,), (3,)], "k long")
    got = [
        [(r.min_val, r.max_val) for r in profile_columns(df, [("k", f)]).collect()]
        for f in (plain, tagged)
    ]
    assert got == [[("1", "3")], [("#1", "#3")]]


def test_fan_out_bytes_per_task_caps_small_input_spread(spark):
    """r16 work-aware fan_out: with bytes_per_task set, a tiny file-backed
    input is NOT spread to the slot count — the target is
    ceil(input_bytes / bytes_per_task), so light-map callers skip the
    repartition exchange entirely at small scale while heavy callers
    (no bytes_per_task) keep the full slot spread."""
    from tez_spark.operators.core import fan_out
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    # huge bytes_per_task -> target 1 -> no repartition: plan unchanged
    capped = fan_out(docs, bytes_per_task=1 << 40)
    assert capped.rdd.getNumPartitions() == docs.rdd.getNumPartitions()
    assert "Exchange" not in capped._jdf.queryExecution().executedPlan().toString()

    # default (no bytes_per_task) on the same tiny input -> slot spread
    spread = fan_out(docs)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # tiny bytes_per_task -> bytes target exceeds the slot count and is
    # clamped back to it (never OVER-spreads beyond the slot target)
    clamped = fan_out(docs, bytes_per_task=1)
    assert (
        clamped.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_jvm_expr_memo_reuses_and_isolates_keys(spark):
    """r16 expression-family memo: the same key returns the SAME Column
    objects (one Py4J build per JVM), different keys build separately,
    and a memoized family is usable in more than one plan."""
    from pyspark.sql import functions as F

    from tez_spark.operators.core import jvm_expr_memo

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return [F.expr("id * 2 AS d"), F.expr("id + 1 AS e")]

    a = jvm_expr_memo("test-memo-key-a", build)
    b = jvm_expr_memo("test-memo-key-a", build)
    assert a is b and calls["n"] == 1
    c = jvm_expr_memo("test-memo-key-b", build)
    assert calls["n"] == 2 and c is not a

    # the same memoized Columns compose into two independent plans
    r1 = spark.range(3).select(*a).collect()
    r2 = spark.range(5).select(*a).collect()
    assert [tuple(r) for r in r1] == [(0, 1), (2, 2), (4, 3)]
    assert len(r2) == 5


def test_new_batch_is_the_one_split_predicate(spark):
    """The md5 train/holdout split has one definition, core.new_batch:
    the Python literal "e6" occurs in engine code exactly once, inside
    it (the DuckDB oracles restate the split in their SQL text, which
    holds no such literal). Its text is pinned: ensure_ivf_index's
    on-disk tag hashes str(new_batch("vec_id")), so a changed text
    rebuilds the index and leaves the old one behind."""
    import ast
    import pathlib

    import tez_spark
    from tez_spark.operators.core import new_batch

    root = pathlib.Path(tez_spark.__file__).parent
    hits = [
        (path.relative_to(root).as_posix(), node.lineno)
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value == "e6"
    ]
    core = ast.parse((root / "operators" / "core.py").read_text())
    (fn,) = [
        n for n in core.body
        if isinstance(n, ast.FunctionDef) and n.name == "new_batch"
    ]
    assert len(hits) == 1, hits
    path, line = hits[0]
    assert path == "operators/core.py" and fn.lineno <= line <= fn.end_lineno
    assert str(new_batch("vec_id")) == (
        "Column<'>=(substring(md5(encode(CAST(vec_id AS STRING), 'UTF-8')),"
        " 1, 2), 'e6')'>"
    )
