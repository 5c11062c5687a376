"""Extended relational queries — capabilities Tez lacks entirely
(SURVEY.md §2.4: window functions, scalar function library, grouping
sets/rollup, approx aggregates) plus custom operators Spark composes
(as-of join). All carry exact DuckDB oracles unless noted.

These are 'free' capability in the Spark-first design: each is a
declarative plan Catalyst optimizes like any other — no custom physical
code, which is exactly the architectural bet of this engine over the
reference's processor-per-vertex model.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tez_spark.operators.core import bounded_sort, global_sort
from tez_spark.sources.catalog import load_table


# --- window functions (rank/lag/frames — SURVEY.md §2.4 gap #1) -----------

def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order analytics: rank, previous-order delta, running
    total. One shuffle on the partition key; frames evaluated in a single
    sorted pass per partition (the secondary-sort pattern generalized)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    out = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rk"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("delta_prev"),
        F.sum("o_totalprice")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_total"),
    )
    return out.orderBy("o_custkey", "o_orderkey")


# --- scalar functions: string/date/math/json (gap #2) ----------------------

def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/date scalar pipeline over part: the row-level logic Tez
    delegates to user processors, here as codegen'd built-ins."""
    part = load_table(spark, sf_dir, "part")
    out = part.select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_u"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("uplift"),
        F.sqrt(F.col("p_size").cast("double")).alias("size_sqrt"),
        (F.col("p_partkey") % 7).alias("bucket7"),
    )
    return out.orderBy("p_partkey")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction over events.props + agg."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    out = (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )
    return bounded_sort(out, "event_type")


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing over orders (year/month/day-of-week extraction)."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
            "o_totalprice",
        )
        .groupBy("y", "m")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("sum_price"))
    )
    return bounded_sort(out, "y", "m")


# --- rollup / grouping sets (gap #3) ---------------------------------------

def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — one pass, partial-agg expanded.
    grouping_id distinguishes subtotal levels (NULL-vs-value is ambiguous
    for genuinely-null keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )
    return bounded_sort(out, "gid", "l_returnflag", "l_linestatus")


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — arbitrary subtotal combinations in one pass
    (each-key-alone + grand total here; neither rollup nor cube shape).
    Completes the grouping-analytics trio (SURVEY.md §2.4: absent in Tez —
    reference keeps all multi-level aggregation in user processors, e.g.
    tez-examples/.../OrderedWordCount.java chains separate DAG vertices)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return bounded_sort(out, "gid", "l_returnflag", "l_linestatus")


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus): all 4 grouping-set levels
    in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_extendedprice").alias("sum_price"),
        F.grouping_id().cast("long").alias("gid"),
    )
    return bounded_sort(out, "gid", "l_returnflag", "l_linestatus")


# --- approximate aggregates (gap #3) ---------------------------------------

def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count estimate, made oracle-verifiable: one agg
    computes BOTH the sketch estimate and the exact distinct count, and
    the returned row carries the exact count plus an in-query |err| ≤ 5%
    assertion on the estimate. Sketch values themselves are
    engine-specific (cross-engine hashes can never match them), but the
    bound check IS the sketch's contract — so the driver's rows+schema+
    hash comparison now verifies it end-to-end instead of the weaker
    rows-only check. At 100TB the user drops the exact audit column and
    keeps only the mergeable HLL sketch (map-side partials, no expand)."""
    li = load_table(spark, sf_dir, "lineitem")
    # distinct-first: HLL is duplicate-insensitive (it sketches the SET),
    # so approx over the deduped keys is the identical estimate — and the
    # plan becomes one partial-agg'd distinct + a tiny agg instead of the
    # Expand-doubled scan a mixed exact+approx aggregate compiles to.
    keys = li.select("l_partkey").distinct()
    agg = keys.agg(
        F.count(F.lit(1)).alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("_hll"),
    )
    return agg.select(
        "exact_parts",
        (
            F.abs(F.col("_hll") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= F.lit(0.05)
        ).alias("hll_within_5pct"),
    )


# --- as-of join (custom operator — union-merge, operators/core.py) ---------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase event: the latest click by the same user at or before
    the purchase (the classic attribution/telemetry enrichment), with the
    click→purchase gap in seconds; purchases with no prior click keep null
    prior columns (left-asof semantics).

    Disjoint left/right streams from one scan (event_type split), so there
    is no self-row to exclude; ties on (user, ts) resolve deterministically
    by prior_id DESC in both engines."""
    from tez_spark.operators.core import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_id"),
    )
    j = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="prior_ts")
    out = j.select(
        "event_id",
        "prior_id",
        (F.col("ts").cast("long") - F.col("prior_ts").cast("long")).alias("gap_s"),
    )
    return out.orderBy("event_id")


# --- BPE-ish regex tokenization (prompt: token counting) -------------------

def q_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token counts: runs of letters or digits (a BPE-style
    pre-tokenizer split), per doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_subtokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )
    return out.orderBy("doc_id")


# --- set operations (JoinValidate's exceptAll mapping, SURVEY.md §2.3) -----

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT over customer-vs-order keys:
    the symmetric-difference algebra behind JoinValidate
    (JoinValidate.java:151-181), as declarative set ops."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    both = orders.intersect(cust).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    only_c = cust.exceptAll(orders.distinct()).agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("except_cust").alias("op"), "n")
    uni = orders.union(cust).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("union_distinct").alias("op"), "n"
    )
    return bounded_sort(both.unionByName(only_c).unionByName(uni), "op")


# --- multi-join star chain (Catalyst join planning over 4 tables) ----------

def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation: fact-to-dims chain. Catalyst
    orders the joins and broadcasts the small dims; at 100TB the
    fact⋈orders leg is the only big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    out = j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
    return bounded_sort(out, "n_name")


# --- pivot (gap: no reshaping ops in Tez at all) ---------------------------

def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format reshaping: quantity totals per returnflag, one column
    per linestatus. Explicit value list — an unbounded pivot needs a
    distinct-values pass first and yields an unstable schema."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )
    return bounded_sort(out, "l_returnflag")


# --- embedding-cosine near-dup (prompt: dedup family) ----------------------

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine >= 0.45 — exact, via distributed
    block-pair matmul (operators/similarity.all_pairs_cosine). No driver
    collect, no corpus broadcast: bounded per-task memory at any N. The
    sublinear 100TB path is dedup_embedding_lsh (candidates + re-rank);
    this exact form is the DuckDB-verifiable truth."""
    from tez_spark.operators.similarity import all_pairs_cosine
    from tez_spark.sources.catalog import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    return bounded_sort(
        all_pairs_cosine(
            emb, threshold=0.45, n_rows=table_row_count(sf_dir, "embeddings")
        ),
        "va",
        "vb",
    )


# --- correlated subqueries (EXISTS / NOT EXISTS as semi/anti joins) --------

def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one URGENT order and no LOW-priority order.
    Declared as semi + anti join — exactly how Catalyst decorrelates
    EXISTS/NOT EXISTS, made explicit: two shuffles on the correlation key,
    no per-row subquery execution anywhere (the 100TB shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    out = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .join(low, cust.c_custkey == low.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )
    return out.orderBy("c_custkey")


# --- exact percentiles (distribution stats for data curation) --------------

def _exact_percentiles_by(
    df: DataFrame,
    group: str,
    col: str,
    quantiles: Sequence[float],
    extra_partition_aggs: "dict[str, F.Column] | None" = None,
) -> DataFrame:
    """Exact continuous (R-7 / quantile_cont) percentiles per group via
    RANK SELECTION instead of the percentile() aggregate: one window sort
    per group (Tungsten radix sort) ranks the values, only the two rows
    bracketing each quantile position survive the filter, and a tiny agg
    interpolates. The percentile() aggregate buffers every value in a
    per-group hashmap on the reduce side (~2.5 s at sf0.1); this plan is
    the same single shuffle but sorts in place and aggregates O(groups ×
    quantiles) rows (~0.5 s). Same R-7 interpolation as Spark percentile
    and DuckDB quantile_cont: pos = 1 + (n-1)·q, linear between
    floor/ceil ranks. Returns (group, n, p_<q> ... unrounded).

    extra_partition_aggs: {name: aggregate Column} evaluated as window
    aggregates over the SAME per-group partition and carried through to
    the output — this is how q_percentiles_approx rides its t-digest
    sketches on the rank-selection plan's one scan + one exchange
    instead of paying a second lineitem pass (r7: 1.1 → 0.7 s)."""
    w = Window.partitionBy(group).orderBy(col)
    wp = Window.partitionBy(group)
    ranked = (
        df.select(group, col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wp))
    )
    for name, agg_col in (extra_partition_aggs or {}).items():
        ranked = ranked.withColumn(name, agg_col.over(wp))
    pos = {q: F.lit(1.0) + (F.col("_n") - 1) * F.lit(q) for q in quantiles}
    keep = None
    for q in quantiles:
        hit = (F.col("_rn") == F.floor(pos[q])) | (F.col("_rn") == F.ceil(pos[q]))
        keep = hit if keep is None else (keep | hit)
    kept = ranked.filter(keep)

    aggs = [F.first("_n").alias("n")]
    aggs += [F.first(name).alias(name) for name in (extra_partition_aggs or {})]
    for i, q in enumerate(quantiles):
        aggs += [
            F.max(F.when(F.col("_rn") == F.floor(pos[q]), F.col(col))).alias(f"_lo{i}"),
            F.max(F.when(F.col("_rn") == F.ceil(pos[q]), F.col(col))).alias(f"_hi{i}"),
        ]
    g = kept.groupBy(group).agg(*aggs)
    out_cols = [F.col(group), F.col("n")]
    out_cols += [F.col(name) for name in (extra_partition_aggs or {})]
    for i, q in enumerate(quantiles):
        p = F.lit(1.0) + (F.col("n") - 1) * F.lit(q)
        frac = p - F.floor(p)
        out_cols.append(
            (F.col(f"_lo{i}") + frac * (F.col(f"_hi{i}") - F.col(f"_lo{i}"))).alias(
                f"p{int(q * 100)}"
            )
        )
    return g.select(*out_cols)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price distribution: exact continuous median/p90 via
    the rank-selection plan (_exact_percentiles_by — one window sort per
    group, O(groups×quantiles) agg rows; the percentile() aggregate's
    reduce-side value buffer measured ~5× slower at sf0.1). At 100TB
    prefer approx_percentile (t-digest sketch, mergeable map-side) unless
    exactness is contractual — a group's values still sort in one task
    either way. Continuous quantiles rounded to 4dp on both sides: Spark
    and DuckDB use the same R-7 interpolation but may differ in the last
    ulp."""
    li = load_table(spark, sf_dir, "lineitem")
    e = _exact_percentiles_by(li, "l_returnflag", "l_extendedprice", (0.5, 0.9))
    out = e.select(
        "l_returnflag",
        F.round("p50", 4).alias("p50_cont"),
        F.round("p90", 4).alias("p90_cont"),
        "n",
    )
    return bounded_sort(out, "l_returnflag")


def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of q_percentiles: approx_percentile (a mergeable
    quantile sketch — map-side partial aggregation, no sort, bounded
    per-group state) at accuracy 10000 (~0.01% rank error). This is the
    plan a 100TB user runs; the exact sort-based percentile is computed
    alongside as the audit twin, and the returned rows carry the exact
    values (rounded 4dp, same convention as q_percentiles) plus in-query
    ≤0.5%-relative-error assertions on the sketch estimates. The sketch
    values themselves are engine-specific (DuckDB's approx_quantile is a
    different t-digest) — the bound booleans are the portable contract,
    so the driver's full rows+schema+hash comparison verifies the sketch
    end-to-end instead of the weaker rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    # The sketches ride the exact plan's own scan + per-group exchange as
    # WINDOW aggregates over the same partition (extra_partition_aggs) —
    # one lineitem pass total instead of a second scan + shuffle for a
    # separate approx groupBy (r7: 1.1 → 0.7 s at sf0.1).
    exact = _exact_percentiles_by(
        li,
        "l_returnflag",
        "l_extendedprice",
        (0.5, 0.9),
        extra_partition_aggs={
            "_p50a": F.expr("approx_percentile(l_extendedprice, 0.5, 10000)"),
            "_p90a": F.expr("approx_percentile(l_extendedprice, 0.9, 10000)"),
        },
    )
    out = exact.select(
        "l_returnflag",
        "n",
        F.round(F.col("p50"), 4).alias("p50_cont"),
        F.round(F.col("p90"), 4).alias("p90_cont"),
        (F.abs(F.col("_p50a") - F.col("p50")) / F.col("p50") <= F.lit(0.005)).alias(
            "p50_within_bound"
        ),
        (F.abs(F.col("_p90a") - F.col("p90")) / F.col("p90") <= F.lit(0.005)).alias(
            "p90_within_bound"
        ),
    )
    return bounded_sort(out, "l_returnflag")


# --- ordered string aggregation (listagg) ----------------------------------

def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation names per region as one ordered CSV string: collect_list →
    array_sort → array_join (deterministic regardless of partitioning —
    collect_list order is NOT stable, so the sort is load-bearing)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    out = j.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.countDistinct("n_name").alias("n_nations"),
    )
    return bounded_sort(out, "r_name")


# --- batch interval join (the stream-stream join's oracle-checked twin) ----

def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases matched to same-user clicks within a 1h lookback — the
    batch twin of streaming.events.purchase_click_join, summarized per
    purchase. The range predicate rides on the user_id equijoin (one
    shuffle per side, then a per-key time filter — never a time-only
    range join, which would cross-product hot windows)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        "left",
    )
    out = j.groupBy("p_id").agg(
        F.count(F.col("c_ts")).alias("n_clicks"),
        # epoch micros, not a timestamp: DuckDB reads the fixture as
        # TIMESTAMP_NS and Spark as µs — compare integers both truncate to
        F.unix_micros(F.max("c_ts")).alias("last_click_us"),
    )
    return out.orderBy("p_id")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the events stream: users who
    viewed, then clicked AFTER their first view, then purchased AFTER
    that first qualifying click — the sequential-pattern query every
    product-analytics pipeline runs (MATCH_RECOGNIZE-lite, expressed as
    staged per-user aggregates so it stays pure DataFrame).

    Scale shape: three aggregations and two joins, ALL keyed on user_id —
    the per-user aggregates are tiny (one row per user per stage), each
    join's probe side shrinks monotonically down the funnel, and no
    time-only range join ever forms. Each stage's per-user table is
    PERSISTED: it feeds both the next stage's join and its own count
    row, and without the persist stage k re-derives every upstream
    scan, making a depth-k funnel cost O(k²) events scans (measured:
    6 FileScans for this 3-step funnel; 3 with the persists)."""
    from tez_spark.operators.core import tracked_persist

    ev = load_table(spark, sf_dir, "events")
    v = tracked_persist(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = tracked_persist(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    out = (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
    )
    return bounded_sort(out, "stage")


def q_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup per event type (the hypertable
    continuous-aggregate shape): every hour between each series' first
    and last event appears exactly once, empty hours filled with zeros —
    downstream time-series consumers (charting, anomaly detection,
    training-window assembly) need dense grids, and a naive groupBy
    silently drops empty buckets.

    Scale shape: the grid is built per series with sequence()+explode
    from that series' own [min, max] span — never a cross join of all
    series × all hours — and the fill join is keyed on
    (event_type, hour), co-partitioned with the rollup it fills. Grid
    size is bounded by active span, not corpus size."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    out = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.round(F.coalesce(F.col("sum_value"), F.lit(0.0)), 6).alias("sum_value"),
    )
    # orderBy, not bounded_sort: the gap-filled grid is hour-grained —
    # it grows with the stream's active span (ADVICE r7).
    return global_sort(out, "event_type", "h")


def q_event_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the events stream: users grouped by the
    date of their first activity (the cohort), with day-1 and day-7
    return rates — the other half of the product-analytics pair with
    q_event_funnel.

    Scale shape: one distinct on (user, day) — activity is deduped
    BEFORE any join so replayed events can't inflate retention — then a
    per-user min and a user-keyed join of two user-bounded tables; the
    cohort rollup is a conditional distinct-count on the already-joined
    rows. No date-range cross join."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("d").alias("d0"))
    j = cohort.join(act, "user_id")
    out = j.groupBy("d0").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("d") == F.date_add("d0", 1), F.col("user_id"))
        ).alias("retained_d1"),
        F.countDistinct(
            F.when(F.col("d") == F.date_add("d0", 7), F.col("user_id"))
        ).alias("retained_d7"),
    )
    return bounded_sort(out, "d0")


# --- unpivot / melt (reverse reshaping of q_pivot) -------------------------

def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long: per-returnflag (qty_o, qty_f) columns melted back to
    (status, qty) rows via stack — map-side only, no shuffle beyond the
    pivot agg it consumes."""
    wide = q_pivot(spark, sf_dir)
    out = wide.select(
        "l_returnflag",
        F.expr("stack(2, 'O', qty_o, 'F', qty_f) AS (status, qty)"),
    )
    return bounded_sort(out, "l_returnflag", "status")


# --- argmax/conditional aggregates (max_by / min_by / count_if) ------------

def q_argmax_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: the customer holding the max account balance
    (max_by), the min-balance customer (min_by), and a conditional count
    — single partial-aggregable pass, no window/sort."""
    cust = load_table(spark, sf_dir, "customer")
    # tie-break key: exact integer (cents * 1e7 + custkey) — DuckDB's
    # arg_max has no struct overload, and float keys would tie on equal
    # balances; cents are exact in both engines after round().
    key = "CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey"
    out = cust.groupBy("c_mktsegment").agg(
        F.expr(f"max_by(c_name, {key})").alias("top_cust"),
        F.expr(f"min_by(c_name, {key})").alias("bottom_cust"),
        F.expr("count_if(c_acctbal > 0)").alias("n_positive"),
        F.count(F.lit(1)).alias("n"),
    )
    return bounded_sort(out, "c_mktsegment")


# --- grouped vector aggregation (per-label centroids) ----------------------

def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics: element-wise mean vector per label
    (the class-prototype / k-means-step building block), summarized as
    the centroid L2 norm. posexplode turns the vector column into
    (label, pos, x) rows so the element-wise mean is an ordinary
    two-key aggregation — all JVM-side, no UDF; the explode is a linear
    row blowup of dim x, partial-aggregated map-side."""
    from tez_spark.functions.vectors import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("pos", "x")
    )
    dims = pe.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    norms = dims.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"),
        F.count(F.lit(1)).alias("n_dims"),
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    out = counts.join(norms, "label").select(
        "label", "n_vecs", "n_dims", "centroid_norm"
    )
    return bounded_sort(out, "label")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization profile: per vector, scale =
    max(|x|)/127, dequantization error mse = avg((x - round(x/scale) *
    scale)^2); report per label. The storage-compression audit a vector
    pipeline runs before shipping int8 embeddings.

    Rounding is floor(x/scale + 0.5) — bit-identical across engines
    (SQL round() half-away vs banker's differs between engines).
    Scale design: entirely map-side (one scan, no explode); the per-label
    summary is the single shuffle. The HOF fold is interpreted per
    element — fine for a profiling query; a bulk re-encode would use the
    Arrow mapInPandas path (operators/similarity.py pattern)."""
    from tez_spark.functions.vectors import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    e = as_double("embedding")
    q = emb.select(
        "label",
        e.alias("e"),
        (F.array_max(F.transform(e, lambda x: F.abs(x))) / 127.0).alias("scale"),
    )
    scale = F.col("scale")
    sq_err = F.aggregate(
        F.col("e"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.pow(x - F.floor(x / scale + 0.5) * scale, F.lit(2.0)),
    )
    per_vec = q.select(
        "label",
        "scale",
        F.when(scale > 0, sq_err / F.size("e")).otherwise(F.lit(0.0)).alias("mse"),
    )
    out = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
        F.round(F.avg("mse"), 6).alias("avg_mse"),
    )
    return bounded_sort(out, "label")


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomalies per event type: hours whose event count
    exceeds mean + 2·stddev of that type's hourly series — the data-feed
    health check an ingestion pipeline runs (a stuck producer or replay
    storm shows up as an anomalous hour). Two shuffles total: hourly
    rollup, then the per-type stats broadcast back onto the tiny hourly
    table."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mean_n"), F.stddev_samp("n").alias("sd_n")
    )
    out = (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.col("n") > F.col("mean_n") + 2 * F.col("sd_n"))
        .select(
            "event_type",
            "h",
            "n",
            F.round("mean_n", 6).alias("mean_n"),
            F.round("sd_n", 6).alias("sd_n"),
        )
    )
    return bounded_sort(out, "event_type", "h")


# --- per-source corpus profiling -------------------------------------------

def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality/token profile per document source — the per-provider
    report a curation pipeline reviews before adjusting mix weights.
    Metrics come from the shared metrics_of core (one scan, map-side);
    the summary is one shuffle on source."""
    from tez_spark.functions.text_queries import metrics_of

    docs = load_table(spark, sf_dir, "documents")
    m = metrics_of(docs).select("doc_id", "n_tokens", "quality")
    j = docs.select("doc_id", "source").join(m, "doc_id")
    out = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
    return bounded_sort(out, "source")


def q_cross_join_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(customer nation, supplier nation) count of customer×supplier
    pairs where the customer's balance dominates the supplier's.

    Declared THETA-CROSS-PRODUCT semantics (Tez CartesianProduct edge +
    CartesianProductFilter), computed WITHOUT materializing a single
    pair: because the theta is a rank condition (c_acctbal > s_acctbal),
    the dominance count per customer is the number of suppliers ranked
    below it — so replicate each customer once per SUPPLIER NATION (25
    rows, a broadcast NLJ over the distinct-nation dim, not a pair
    blow-up), union with the suppliers, and take a running sum of the
    supplier indicator per supplier-nation ordered by balance. O((C·25 +
    S) log) work vs O(C×S) pairs — at sf0.1 that is ~15M pairs avoided;
    at 100TB the cartesian plan simply does not finish while this one is
    a 25-partition sort (for a nation-like dim of thousands of values,
    salt the window key or pre-aggregate balances into quantile buckets).

    The chunked-grid EXECUTION path this query used to time —
    operators.chunked_cross_join, FairCartesianProductVertexManager
    parity — remains for thetas that genuinely need all pairs, and keeps
    its own grid/equality tests (tests/test_operators.py 10×10 grid,
    tests/test_merge_property.py); its sizing hints now come from
    catalog.table_row_count (parquet footer stats, no count() jobs)."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")

    s_nations = s.select("s_nationkey").distinct()
    c_rep = c.crossJoin(F.broadcast(s_nations)).select(
        "c_nationkey",
        "s_nationkey",
        F.col("c_acctbal").alias("bal"),
        F.lit(0).alias("is_supp"),
    )
    s_tag = s.select(
        # null tag typed as the customer column's ACTUAL type so the union
        # does not widen c_nationkey (schema must match the pre-flip plan)
        F.lit(None).cast(c.schema["c_nationkey"].dataType).alias("c_nationkey"),
        "s_nationkey",
        F.col("s_acctbal").alias("bal"),
        F.lit(1).alias("is_supp"),
    )
    u = c_rep.unionByName(s_tag)
    # Running supplier count per supplier nation, ordered by balance with
    # customers BEFORE suppliers at equal balance: for a customer row the
    # cumulative sum is exactly |{s in nation j : s_acctbal < c_acctbal}|
    # (strict dominance — equal-balance suppliers sort after and never
    # count; ties among customer rows carry is_supp=0 so their relative
    # order is irrelevant to the sum).
    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("bal", "is_supp")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dom = (
        u.withColumn("n_below", F.sum("is_supp").over(w))
        .filter(F.col("is_supp") == 0)
        .groupBy("c_nationkey", "s_nationkey")
        .agg(F.sum("n_below").alias("n_dominant"))
        .filter(F.col("n_dominant") > 0)
    )
    return bounded_sort(dom, "c_nationkey", "s_nationkey")


def q_cross_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-dominance theta product over a HIGH-CARDINALITY partition
    key: per (customer nation, individual supplier) count of customers
    whose balance dominates that supplier's — q_cross_join_chunked's
    semantics with s_suppkey (one partition per supplier; thousands at
    sf0.1, millions at 100TB) in place of the 25-value nation dim.

    The window form above replicates every customer once per distinct
    key and sorts C+S rows in each of K window partitions — exactly the
    shape its own docstring warns about for wide dims. This query runs
    the promised twin, operators.core.rank_dominance_bucketed: both
    sides pre-aggregated into monotone balance-bucket histograms,
    cross-bucket pairs counted from per-key cumulative histograms
    (aggregate arithmetic, no pair ever materialized), within-bucket
    pairs compared exactly via a bucket equijoin whose candidate volume
    is ~C·S/B. Work scales with output size + C·S/B, never C×K rows —
    FairCartesianProductVertexManager.java:75's output-bounded-
    parallelism objective met by pre-aggregation. Equality with the
    exact plan on a 12k-value key: tests/test_operators.py.

    Bucket bounds come from parquet row-group STATISTICS
    (catalog.table_column_minmax — a footer read, no scan), so the
    min/max aggregation job over both sides disappears from the query
    path; any monotone bounds are correct, so stats staleness costs
    bucket balance, never the answer."""
    import math

    from tez_spark.operators.core import rank_dominance_bucketed
    from tez_spark.sources.catalog import table_column_minmax, table_row_count

    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    cb = table_column_minmax(sf_dir, "customer", "c_acctbal")
    sb = table_column_minmax(sf_dir, "supplier", "s_acctbal")
    bounds = (min(cb[0], sb[0]), max(cb[1], sb[1])) if cb and sb else None
    # Bucket count sized from footer ROW counts: the dense per-key grid
    # costs K·B rows and the within-bucket join ~C·S/B candidates; they
    # balance at B = sqrt(C·S/K) (here K = S, so B = sqrt(C)). Clamped
    # so degenerate stats can't produce a 1-bucket (quadratic) or
    # million-bucket (grid-dominated) plan.
    n_c = table_row_count(sf_dir, "customer")
    n_s = table_row_count(sf_dir, "supplier")
    b = max(16, min(1024, int(math.isqrt(max(1, n_c * n_s // max(1, n_s))))))
    dom = rank_dominance_bucketed(
        c, s, "c_nationkey", "s_suppkey", "c_acctbal", "s_acctbal",
        n_buckets=b, bounds=bounds,
    )
    return dom.orderBy("c_nationkey", "s_suppkey")


# Cross-engine-stable value formatters for column profiles: longs and
# strings render verbatim, money through DECIMAL(18,2) (same text in
# Spark and DuckDB; raw DOUBLE->string differs), timestamps truncated
# to the day (fixture timestamps are midnight; fractional-second
# rendering differs across engines).
def fmt_long(e):  # noqa: ANN001, ANN201 - column-expr formatter
    return e.cast("string")


def fmt_str(e):  # noqa: ANN001, ANN201
    return e


def fmt_money(e):  # noqa: ANN001, ANN201
    return F.round(e, 2).cast("decimal(18,2)").cast("string")


def fmt_day(e):  # noqa: ANN001, ANN201
    return e.cast("date").cast("string")


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column table statistics over orders in ONE scan:
    null count, exact distinct count, min/max — one output row per
    column, every value rendered through a cross-engine-stable
    formatter (longs/strings verbatim, timestamps day-truncated,
    doubles as DECIMAL(18,2)) so the whole profile is hash-oracled.

    The reference reports per-vertex data statistics (data size, item
    counts) through InputStatistics/OutputStatistics
    (tez-api/src/main/java/org/apache/tez/runtime/api/
    InputStatistics.java:31, OutputStatistics.java:29) and its
    speculation layer keeps running mean/variance estimates
    (tez-dag/.../speculation/legacy/DataStatistics.java:23); a
    column-level profile is the relational generalization every
    warehouse ANALYZE runs.

    Plan shape: two pruned scans, both pure HashAggregate — a keyless
    nulls/min/max pass and a stacked (column, value) distinct pass
    whose exchange is bounded by the per-column vocabularies (see
    profile_columns for the A/B against Spark's native expand-based
    multi-countDistinct, which this form beats ~2x at sf0.1 and
    dominates at scale). At 100TB the per-column knob for truly
    vocabulary-unbounded columns is approx_count_distinct (sketch
    contract oracled separately in approx_distinct); the plan is
    otherwise unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        ("o_custkey", fmt_long),
        ("o_orderdate", fmt_day),
        ("o_orderkey", fmt_long),
        ("o_orderpriority", fmt_str),
        ("o_orderstatus", fmt_str),
        ("o_totalprice", fmt_money),
    ]
    return bounded_sort(profile_columns(orders, cols), "col_name")


def profile_columns(df: DataFrame, cols) -> DataFrame:
    """Per-column profile: (col_name, n_nulls, n_distinct, min_val,
    max_val) for each (name, formatter) in ``cols``, as two narrow
    passes that both stay in whole-stage-codegen HashAggregate:

    1. nulls/min/max — one KEYLESS aggregation (map-side partial on
       every partition, one single-partition merge; no grouping keys,
       so string-typed min/max buffers never force a sort), exploded
       into per-column rows driver-free.
    2. exact n_distinct — the columns stacked into (col_name, value)
       pairs and aggregated twice: partial distinct per partition,
       then count per column. The exchange carries each partition's
       DISTINCT (column, value) pairs — bounded by vocabulary, NOT
       rows x columns.

    A/B note (sf0.1 orders, noop sink, warm): Spark's native
    multi-countDistinct strategy for the same answer is a 7-way Expand
    whose string min/max buffers downgrade the whole pass to
    SortAggregate — 2.8 s; this two-pass form runs the same profile in
    ~1.35 s (the residual is the serialized AQE/broadcast job floor,
    not bytes) and its distinct exchange shrinks from rows x 7 to the
    per-column vocabularies. At 100TB that difference is the plan."""
    # The three expression families below (agg list, per-column pack
    # array, stacked-pair array) are pure functions of the (name,
    # formatter) list — a module constant for the registry caller — and
    # cost ~500 Py4J Column round-trips per build: memoized once per
    # JVM (r17; same pattern as the minhash/simhash families).
    from tez_spark.operators.core import jvm_expr_memo

    def _families() -> tuple:
        aggs = []
        for name, fmt in cols:
            c = F.col(name)
            aggs += [
                (F.count(F.lit(1)) - F.count(c)).alias(f"{name}__nulls"),
                fmt(F.min(c)).alias(f"{name}__min"),
                fmt(F.max(c)).alias(f"{name}__max"),
            ]
        pack = F.array(
            *[
                F.struct(
                    F.lit(name).alias("col_name"),
                    F.col(f"{name}__nulls").alias("n_nulls"),
                    F.col(f"{name}__min").alias("min_val"),
                    F.col(f"{name}__max").alias("max_val"),
                )
                for name, _ in cols
            ]
        )
        stack = F.array(
            *[
                F.struct(
                    F.lit(name).alias("col_name"),
                    F.col(name).cast("string").alias("val"),
                )
                for name, _ in cols
            ]
        )
        return aggs, pack, stack

    # formatters are keyed by module + qualname: two `fmt` functions from
    # different modules must not share a family (ADVICE r17)
    memo_key = "profile_columns:" + ",".join(
        f"{name}:{fmt.__module__}.{fmt.__qualname__}" for name, fmt in cols
    )
    aggs, pack, stack = jvm_expr_memo(memo_key, _families)

    # pass 1: nulls + formatted min/max, keyless agg -> 1 row -> explode
    base = (
        df.agg(*aggs)
        .select(F.explode(pack).alias("p"))
        .select("p.*")
    )
    # pass 2: exact distinct counts over stacked (col_name, value) pairs;
    # the string cast is injective per column type, so counts are exact
    stacked = (
        df.select(F.explode(stack).alias("s"))
        .select("s.*")
        .where(F.col("val").isNotNull())
    )
    ndv = (
        stacked.distinct()
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    # all-null columns have no surviving stacked rows -> n_distinct 0
    return base.join(F.broadcast(ndv), "col_name", "left").select(
        "col_name",
        "n_nulls",
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


def _profile_col_sql(name: str, min_expr: str, max_expr: str) -> str:
    return f"""
        SELECT '{name}' AS col_name,
               COUNT(*) - COUNT({name}) AS n_nulls,
               COUNT(DISTINCT {name}) AS n_distinct,
               {min_expr} AS min_val,
               {max_expr} AS max_val
        FROM orders
    """


_COLUMN_PROFILE_SQL = (
    " UNION ALL ".join(
        [
            _profile_col_sql(
                "o_custkey",
                "CAST(MIN(o_custkey) AS VARCHAR)",
                "CAST(MAX(o_custkey) AS VARCHAR)",
            ),
            _profile_col_sql(
                "o_orderdate",
                "CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR)",
                "CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)",
            ),
            _profile_col_sql(
                "o_orderkey",
                "CAST(MIN(o_orderkey) AS VARCHAR)",
                "CAST(MAX(o_orderkey) AS VARCHAR)",
            ),
            _profile_col_sql(
                "o_orderpriority", "MIN(o_orderpriority)", "MAX(o_orderpriority)"
            ),
            _profile_col_sql(
                "o_orderstatus", "MIN(o_orderstatus)", "MAX(o_orderstatus)"
            ),
            _profile_col_sql(
                "o_totalprice",
                "CAST(CAST(ROUND(MIN(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)",
                "CAST(CAST(ROUND(MAX(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)",
            ),
        ]
    )
    + " ORDER BY col_name"
)


ORACLE: dict[str, str] = {
    "column_profile": _COLUMN_PROFILE_SQL,
    "cross_join_bucketed": """
        SELECT c_nationkey, s_suppkey, COUNT(*) AS n_dominant
        FROM customer, supplier
        WHERE c_acctbal > s_acctbal
        GROUP BY c_nationkey, s_suppkey
        ORDER BY c_nationkey, s_suppkey
    """,
    "cross_join_chunked": """
        SELECT c_nationkey, s_nationkey, COUNT(*) AS n_dominant
        FROM customer, supplier
        WHERE c_acctbal > s_acctbal
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "embedding_centroids": """
        WITH pe AS (
            -- positional explode (DuckDB has no WITH ORDINALITY):
            -- index the list by a generated 1-based range
            SELECT label, t.i AS pos, (embedding::DOUBLE[])[t.i] AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        ), dims AS (
            SELECT label, pos, AVG(x) AS m FROM pe GROUP BY 1, 2
        ), norms AS (
            SELECT label,
                   round(sqrt(SUM(m * m)), 6) AS centroid_norm,
                   COUNT(*) AS n_dims
            FROM dims GROUP BY 1
        )
        SELECT e.label, COUNT(*) AS n_vecs, n.n_dims, n.centroid_norm
        FROM embeddings e JOIN norms n ON e.label = n.label
        GROUP BY 1, 3, 4 ORDER BY 1
    """,
    "source_quality": f"""
        WITH base AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), t -> t <> '') AS toks,
                   text
            FROM documents
        ), m AS (
            SELECT doc_id, source,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) / length(text)
                        ELSE 0.0 END AS alpha_r,
                   CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, t -> t IN ({{STOP}}))) / len(toks)
                        ELSE 0.0 END AS stop_r,
                   CASE WHEN len(toks) > 0
                        THEN list_sum(list_transform(toks, t -> length(t))) / len(toks)
                        ELSE 0.0 END AS avg_tok_len
            FROM base
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               round(AVG(least(stop_r * 4.0, 1.0) * 0.4 + alpha_r * 0.4 +
                     CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10
                          THEN 0.2 ELSE 0.0 END), 6) AS avg_quality
        FROM m GROUP BY 1 ORDER BY 1
    """,
    "window_funcs": """
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(RANK() OVER w AS BIGINT) AS rk,
               o_totalprice - LAG(o_totalprice) OVER w AS delta_prev,
               SUM(o_totalprice) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey
    """,
    "scalar_funcs": """
        SELECT p_partkey,
               upper(p_brand) AS brand_u,
               CAST(length(p_name) AS BIGINT) AS name_len,
               substring(p_type, 1, 5) AS type5,
               round(p_retailprice * 1.1, 2) AS uplift,
               sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
               p_partkey % 7 AS bucket7
        FROM part ORDER BY p_partkey
    """,
    "json_extract": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               MAX(CAST(props ->> '$.k' AS BIGINT)) AS max_k
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "date_funcs": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               COUNT(*) AS n, SUM(o_totalprice) AS sum_price
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(l_quantity) AS sum_qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "asof_join": """
        WITH p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ), c AS (
            SELECT event_id AS prior_id, user_id, ts AS prior_ts FROM events
            WHERE event_type = 'click'
        ), j AS (
            SELECT p.event_id, c.prior_id, p.ts, c.prior_ts,
                   ROW_NUMBER() OVER (PARTITION BY p.event_id
                                      ORDER BY c.prior_ts DESC, c.prior_id DESC) AS rn
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id AND c.prior_ts <= p.ts
        )
        SELECT event_id, prior_id,
               epoch_us(ts) // 1000000 - epoch_us(prior_ts) // 1000000 AS gap_s
        FROM j WHERE rn = 1
        ORDER BY event_id
    """,
    "regex_tokens": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS BIGINT)
                   AS n_subtokens,
               CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+', 0))) AS BIGINT)
                   AS n_unique
        FROM documents ORDER BY doc_id
    """,
    "dedup_embedding": """
        SELECT a.vec_id AS va, b.vec_id AS vb,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
              (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
               sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.45
        ORDER BY va, vb
    """,
    "grouping_sets": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(l_quantity) AS sum_qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "cube": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               SUM(l_extendedprice) AS sum_price,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus
    """,
    "set_ops": """
        SELECT op, n FROM (
            SELECT 'intersect' AS op, COUNT(*) AS n FROM (
                SELECT o_custkey AS k FROM orders
                INTERSECT SELECT c_custkey AS k FROM customer)
            UNION ALL
            SELECT 'except_cust' AS op, COUNT(*) AS n FROM (
                SELECT c_custkey AS k FROM customer
                EXCEPT ALL SELECT DISTINCT o_custkey AS k FROM orders)
            UNION ALL
            SELECT 'union_distinct' AS op, COUNT(*) AS n FROM (
                SELECT o_custkey AS k FROM orders
                UNION SELECT c_custkey AS k FROM customer)
        ) ORDER BY op
    """,
    "star_join": """
        SELECT n.n_name, COUNT(*) AS n,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1 ORDER BY 1
    """,
    "pivot": """
        SELECT l_returnflag,
               SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
               SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    "interval_join": """
        WITH p AS (
            SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
            WHERE event_type = 'purchase'
        ), c AS (
            SELECT user_id AS c_user, ts AS c_ts FROM events
            WHERE event_type = 'click'
        )
        SELECT p_id, COUNT(c_ts) AS n_clicks,
               epoch_us(MAX(c_ts)) AS last_click_us
        FROM p LEFT JOIN c
          ON user_id = c_user AND c_ts <= p_ts
         AND c_ts >= p_ts - INTERVAL 1 HOUR
        GROUP BY 1 ORDER BY 1
    """,
    "event_funnel": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
        ), p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
        )
        SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
        ORDER BY stage
    """,
    "time_gapfill": """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, event_type,
                   COUNT(*) AS n, SUM(value) AS sum_value
            FROM events GROUP BY 1, 2
        ), spans AS (
            SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
            FROM hourly GROUP BY 1
        ), grid AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM spans
        )
        SELECT g.event_type, g.h,
               COALESCE(n, 0) AS n,
               round(COALESCE(sum_value, 0.0), 6) AS sum_value
        FROM grid g LEFT JOIN hourly USING (event_type, h)
        ORDER BY 1, 2
    """,
    "event_retention": """
        WITH act AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), cohort AS (
            SELECT user_id, MIN(d) AS d0 FROM act GROUP BY 1
        )
        SELECT d0,
               CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT CASE WHEN a.d = c.d0 + 1
                                        THEN a.user_id END) AS BIGINT)
                   AS retained_d1,
               CAST(COUNT(DISTINCT CASE WHEN a.d = c.d0 + 7
                                        THEN a.user_id END) AS BIGINT)
                   AS retained_d7
        FROM cohort c JOIN act a ON c.user_id = a.user_id
        GROUP BY d0 ORDER BY d0
    """,
    "unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o,
                   SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f
            FROM lineitem GROUP BY 1
        )
        SELECT l_returnflag, status, qty FROM (
            SELECT l_returnflag, 'O' AS status, qty_o AS qty FROM wide
            UNION ALL
            SELECT l_returnflag, 'F' AS status, qty_f AS qty FROM wide
        ) ORDER BY l_returnflag, status
    """,
    "argmax_funcs": """
        SELECT c_mktsegment,
               arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS top_cust,
               arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS bottom_cust,
               CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive,
               COUNT(*) AS n
        FROM customer GROUP BY 1 ORDER BY 1
    """,
    "exists_subquery": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '5-LOW')
        ORDER BY c_custkey
    """,
    "percentiles": """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_cont,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_cont,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    "string_agg": """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               COUNT(DISTINCT n_name) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1 ORDER BY 1
    """,
    "event_anomalies": """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, AVG(n) AS mean_n, stddev_samp(n) AS sd_n
            FROM hourly GROUP BY 1
        )
        SELECT h.event_type, h.h, h.n,
               round(s.mean_n, 6) AS mean_n, round(s.sd_n, 6) AS sd_n
        FROM hourly h JOIN stats s ON h.event_type = s.event_type
        WHERE h.n > s.mean_n + 2 * s.sd_n
        ORDER BY 1, 2
    """,
    "embedding_quantize": """
        WITH q AS (
            SELECT label, embedding::DOUBLE[] AS e,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                       AS scale
            FROM embeddings
        )
        SELECT label, COUNT(*) AS n_vecs,
               round(AVG(scale), 6) AS avg_scale,
               round(AVG(CASE WHEN scale > 0 THEN
                   list_sum(list_transform(e,
                       x -> pow(x - floor(x / scale + 0.5) * scale, 2))) / len(e)
                   ELSE 0.0 END), 6) AS avg_mse
        FROM q GROUP BY 1 ORDER BY 1
    """,
    # Sketch VALUES are engine-specific, so these two oracles verify the
    # exact audit columns plus the in-query error-bound booleans (the
    # sketch's portable contract): the engine row hashes equal iff the
    # exact values agree AND every bound assertion evaluated true.
    "approx_distinct": """
        SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS hll_within_5pct
        FROM lineitem
    """,
    "percentiles_approx": """
        SELECT l_returnflag, COUNT(*) AS n,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_cont,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_cont,
               TRUE AS p50_within_bound,
               TRUE AS p90_within_bound
        FROM lineitem GROUP BY 1 ORDER BY 1
    """,
}

QUERIES = {
    "window_funcs": q_window_funcs,
    "scalar_funcs": q_scalar_funcs,
    "json_extract": q_json_extract,
    "date_funcs": q_date_funcs,
    "rollup": q_rollup,
    "grouping_sets": q_grouping_sets,
    "cube": q_cube,
    "approx_distinct": q_approx_distinct,
    "asof_join": q_asof_join,
    "regex_tokens": q_regex_tokens,
    "set_ops": q_set_ops,
    "star_join": q_star_join,
    "pivot": q_pivot,
    "dedup_embedding": q_dedup_embedding,
    "exists_subquery": q_exists_subquery,
    "percentiles": q_percentiles,
    "percentiles_approx": q_percentiles_approx,
    "string_agg": q_string_agg,
    "interval_join": q_interval_join,
    "event_funnel": q_event_funnel,
    "event_retention": q_event_retention,
    "time_gapfill": q_time_gapfill,
    "unpivot": q_unpivot,
    "argmax_funcs": q_argmax_funcs,
    "embedding_centroids": q_embedding_centroids,
    "embedding_quantize": q_embedding_quantize,
    "event_anomalies": q_event_anomalies,
    "source_quality": q_source_quality,
    "cross_join_chunked": q_cross_join_chunked,
    "cross_join_bucketed": q_cross_join_bucketed,
    "column_profile": q_column_profile,
}

# the source_quality oracle shares the engine's stopword list verbatim
from tez_spark.functions.text import STOPWORDS as _STOPWORDS  # noqa: E402

ORACLE["source_quality"] = ORACLE["source_quality"].replace(
    "{STOP}", ", ".join(f"'{s}'" for s in _STOPWORDS)
)
