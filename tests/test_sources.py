"""Source/sink round-trips (MRInput reads any InputFormat — MRInput.java:87;
we cover the DataSource formats) and sketch-accuracy for approx aggregates."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_csv_roundtrip(spark):
    from tez_spark.sources import scan_csv, write_parquet
    from tez_spark.sources.catalog import load_table

    nation = load_table(spark, SF_DIR, "nation")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "nation_csv")
        nation.write.option("header", True).csv(p)
        back = scan_csv(spark, p)
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in nation.collect()
        }


def test_json_roundtrip(spark):
    from tez_spark.sources import scan_json
    from tez_spark.sources.catalog import load_table

    region = load_table(spark, SF_DIR, "region")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "region_json")
        region.write.json(p)
        back = scan_json(spark, p, schema=region.schema)
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in region.collect()
        }


def test_text_scan(spark):
    """Line-oriented scan (TextInputFormat parity: WordCount.java:25)."""
    from tez_spark.sources import scan_text

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "lines.txt")
        with open(p, "w") as f:
            f.write("hello world\nfoo bar\n")
        df = scan_text(spark, p)
        assert df.columns == ["value"]
        assert df.count() == 2


def test_sequencefile_roundtrip(spark):
    """SequenceFile write->scan round-trip (the literal MRInput.java:87
    contract: Hadoop container formats beyond the DataSource set)."""
    from tez_spark.sources import scan_sequencefile, write_sequencefile
    from tez_spark.sources.catalog import load_table

    nation = load_table(spark, SF_DIR, "nation").select(
        F.col("n_nationkey").cast("long"), F.col("n_name")
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "nation_seq")
        write_sequencefile(nation, p)
        back = scan_sequencefile(spark, p, key_col="k", value_col="v")
        assert back.columns == ["k", "v"]
        assert {(r.k, r.v) for r in back.collect()} == {
            tuple(r) for r in nation.collect()
        }


def test_generic_hadoop_inputformat_scan(spark):
    """newAPIHadoopFile bridge over TextInputFormat — the any-InputFormat
    escape hatch; (key=byte offset, value=line)."""
    from tez_spark.sources import scan_hadoop_file

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "lines.txt")
        with open(p, "w") as f:
            f.write("alpha\nbeta\n")
        df = scan_hadoop_file(
            spark,
            p,
            "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
            "org.apache.hadoop.io.LongWritable",
            "org.apache.hadoop.io.Text",
        )
        assert sorted(r.value for r in df.collect()) == ["alpha", "beta"]


def test_multiple_committed_outputs(spark):
    """One plan, several committed sinks (MultipleCommitsExample.java;
    DAG-level commit ≙ independent df.write actions sharing lineage)."""
    from tez_spark.sources.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    agg = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    with tempfile.TemporaryDirectory() as d:
        p1, p2 = os.path.join(d, "s1"), os.path.join(d, "s2")
        agg.write.parquet(p1)
        agg.filter(F.col("n") > 0).write.parquet(p2)
        assert spark.read.parquet(p1).count() == agg.count()
        assert spark.read.parquet(p2).count() == agg.count()


def test_approx_distinct_accuracy(spark):
    """HLL++ estimate within 5% of exact. The bound assertion now lives
    IN the query (hll_within_5pct — what the driver hash-verifies); this
    test checks it against an independently computed exact count so a
    broken in-query comparison can't self-certify."""
    from tez_spark.plans.queries_ext import q_approx_distinct
    from tez_spark.sources.catalog import load_table

    row = q_approx_distinct(spark, SF_DIR).first()
    exact = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert row.exact_parts == exact
    assert row.hll_within_5pct is True


def test_percentiles_approx_accuracy(spark):
    """The scale-path quantile sketch tracks the exact sort-based answer
    within 0.5% relative error per group/quantile. The bound booleans are
    computed in-query (what the driver hash-verifies); this test checks
    the exact audit columns against the independent q_percentiles plan so
    a broken in-query comparison can't self-certify."""
    from tez_spark.plans.queries_ext import q_percentiles, q_percentiles_approx

    exact = {r.l_returnflag: r for r in q_percentiles(spark, SF_DIR).collect()}
    approx = {r.l_returnflag: r for r in q_percentiles_approx(spark, SF_DIR).collect()}
    assert set(exact) == set(approx) and exact
    for flag, e in exact.items():
        a = approx[flag]
        assert a.p50_cont == e.p50_cont, flag
        assert a.p90_cont == e.p90_cont, flag
        assert a.p50_within_bound is True and a.p90_within_bound is True, flag
        assert a.n == e.n


def test_connector_gating_probe_both_ways(spark):
    """ext.py connectors: the classpath probe detects present classes
    (parquet's DataSource is always there) and absent ones (delta/iceberg
    jars are not in this container), and the scan helpers raise
    ConnectorUnavailable with an actionable message instead of an opaque
    ClassNotFoundException mid-plan."""
    import pytest

    from tez_spark.sources.ext import (
        ConnectorUnavailable,
        _format_available,
        scan_delta,
        scan_iceberg,
    )

    # positive probe: a class that ships with Spark itself
    assert _format_available(
        spark, "parquet", "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"
    )
    delta_here = _format_available(spark, "delta", "org.apache.spark.sql.delta.DeltaLog")
    if delta_here:
        pytest.skip("delta jars present in this runtime; gate not exercisable")
    with pytest.raises(ConnectorUnavailable, match="delta-spark"):
        scan_delta(spark, "/tmp/nonexistent")
    with pytest.raises(ConnectorUnavailable, match="iceberg"):
        scan_iceberg(spark, "db.tbl")
    from tez_spark.sources.ext import scan_avro

    with pytest.raises(ConnectorUnavailable, match="spark-avro module"):
        scan_avro(spark, "/tmp/nonexistent")


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located join via bucketing: both sides written bucketBy(8, key)
    + sortBy(key); the join plan must contain NO shuffle exchange on
    either side (and no sort for the sorted case) — the 100TB strategy of
    paying the exchange once at write time."""
    from tez_spark.sources.catalog import load_table
    from tez_spark.sources.io import write_bucketed

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"], path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        li, "b_lineitem", ["l_orderkey"], 8,
        sort_cols=["l_orderkey"], path=str(tmp_path / "b_lineitem"),
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("b_orders").join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_orc_roundtrip(spark):
    from tez_spark.sources import scan_orc, write_orc
    from tez_spark.sources.catalog import load_table

    supplier = load_table(spark, SF_DIR, "supplier")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "supplier_orc")
        write_orc(supplier, p)
        back = scan_orc(spark, p)
        assert back.schema == supplier.schema
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in supplier.collect()
        }


def test_register_views_sql_entry(spark):
    """Entry point 3 (Hive-style SQL session): every fixture table is
    queryable by name, including events (whose TIMESTAMP(NANOS) needs
    the load_table handling — a raw scan throws)."""
    from tez_spark.sources.catalog import register_views

    register_views(spark, SF_DIR)
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM events JOIN customer ON user_id = c_custkey"
    ).first().n
    assert n > 0
    assert spark.sql("SELECT MAX(ts) FROM events").first()[0] is not None


def test_write_sorted_produces_disjoint_file_ranges(spark, tmp_path):
    """write_sorted's range-clustered layout: every output file covers a
    narrow o_custkey span and the per-file [min, max] ranges are pairwise
    disjoint — the parquet-footer property that lets a range predicate
    prune whole files at scale. Verified from the footers themselves."""
    import glob

    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR
    from tez_spark.sources.catalog import load_table
    from tez_spark.sources.io import write_sorted

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "sorted_orders")
    write_sorted(orders, out, ["o_custkey"], n_files=6)

    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # o_custkey
            assert col.path_in_schema == "o_custkey"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1, "need multiple files to demonstrate clustering"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"

    # and the data survives the layout intact
    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_merge_snapshot_upsert_semantics(spark, tmp_path):
    """merge_snapshot: updated keys replaced, new keys inserted,
    untouched keys carried over — and the snapshot-swap round trip
    through parquet preserves exactly that."""
    from tez_spark.sources.io import merge_snapshot, write_parquet

    current = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)],  # update k=2, insert k=4
        "k long, name string, v double",
    )
    merged = merge_snapshot(current, updates, ["k"])
    out = str(tmp_path / "snap_v2")
    write_parquet(merged, out)
    got = {
        (r.k, r.name, r.v) for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (1, "a", 10.0),
        (2, "b2", 21.0),  # updated row won
        (3, "c", 30.0),
        (4, "d", 40.0),  # inserted
    }


def test_merge_snapshot_dedupes_cdc_updates(spark):
    """Raw-CDC shapes (ADVICE r4): several versions of one key in a batch
    must collapse to one winner (last by order_col), and null-key noise
    rows must not reach the snapshot."""
    from tez_spark.sources.io import merge_snapshot

    current = spark.createDataFrame(
        [(1, "a", 10.0, 0)], "k long, name string, v double, seq long"
    )
    updates = spark.createDataFrame(
        [
            (1, "a1", 11.0, 1),
            (1, "a2", 12.0, 2),  # later seq — must win
            (None, "noise", 0.0, 3),
            (2, "b", 20.0, 1),
        ],
        "k long, name string, v double, seq long",
    )
    got = {
        (r.k, r.name, r.v)
        for r in merge_snapshot(current, updates, ["k"], order_col="seq").collect()
    }
    assert got == {(1, "a2", 12.0), (2, "b", 20.0)}
    # without order_col: deterministic max-per-column tie-break, still
    # exactly one row per key and no null keys
    rows = merge_snapshot(current, updates, ["k"]).collect()
    assert sorted(r.k for r in rows) == [1, 2]


def test_relation_cache_invalidates_on_fixture_regeneration(spark, tmp_path):
    """ADVICE r4: the per-session relation cache must not serve a stale
    snapshot after the underlying parquet is regenerated — the cache key
    embeds the file fingerprint (size+mtime)."""
    import shutil
    import time as _time

    from tez_spark.sources.catalog import load_table

    src = str(tmp_path / "fx")
    os.makedirs(src)
    spark.createDataFrame([(1, "a")], "doc_id long, text string").coalesce(
        1
    ).write.parquet(src + "/documents.parquet")
    df1 = load_table(spark, src, "documents")
    assert df1 is load_table(spark, src, "documents")  # warm hit
    _time.sleep(0.05)
    shutil.rmtree(src + "/documents.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/documents.parquet")
    df2 = load_table(spark, src, "documents")
    assert df2 is not df1, "regenerated fixture served from stale cache"
    assert df2.count() == 2


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """write_zorder: parquet footer min/max must prune files for a
    selective range on EITHER clustered column — the multi-dimensional
    upgrade over write_sorted, whose second dimension stripes across
    every file."""
    import glob

    import pyarrow.parquet as pq

    from tez_spark.sources.catalog import load_table
    from tez_spark.sources.io import write_sorted, write_zorder

    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey", "l_suppkey")

    def overlap_fraction(path, col, lo, hi):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        assert files
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                hit += 1
        return hit / len(files)

    bounds = li.agg(
        F.max("l_partkey").alias("p"), F.max("l_suppkey").alias("s")
    ).first()
    # a ~5% slice of each domain
    p_lo, p_hi = 0, bounds.p // 20
    s_lo, s_hi = 0, bounds.s // 20

    zpath = str(tmp_path / "zorder")
    write_zorder(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
    spath = str(tmp_path / "sorted")
    write_sorted(li, spath, ["l_partkey"], n_files=16)

    # the 1-D layout prunes its own column but NOT the other
    assert overlap_fraction(spath, "l_partkey", p_lo, p_hi) <= 0.5
    assert overlap_fraction(spath, "l_suppkey", s_lo, s_hi) >= 0.9
    # z-order prunes BOTH
    assert overlap_fraction(zpath, "l_partkey", p_lo, p_hi) <= 0.6
    assert overlap_fraction(zpath, "l_suppkey", s_lo, s_hi) <= 0.6
    # and round-trips the data intact
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_null_cluster_values_bucket_low(spark, tmp_path):
    """NULL cluster values must land in the LOW bucket of the curve, not
    with the maximum values (r5 advice: least() skips nulls, so the
    pre-fix expression binned nulls at bucket top, polluting the top
    files' footer ranges). With 10% nulls on one dimension, the files
    holding nulls must be low-l_partkey files, and a high-range predicate
    on l_partkey must still prune aggressively."""
    import glob

    import pyarrow.parquet as pq

    from tez_spark.sources.catalog import load_table
    from tez_spark.sources.io import write_zorder

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_partkey", "l_suppkey")
        .withColumn(
            "l_partkey",
            F.when(F.col("l_suppkey") % 10 == 0, F.lit(None)).otherwise(
                F.col("l_partkey")
            ),
        )
    )
    zpath = str(tmp_path / "zorder_nulls")
    write_zorder(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)

    files = sorted(glob.glob(os.path.join(zpath, "*.parquet")))
    assert files
    hi = li.agg(F.max("l_partkey")).first()[0]
    n_null_files, hit_high = 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_partkey")
        stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
        n_nulls = sum(s.null_count for s in stats)
        fmax = max((s.max for s in stats if s.max is not None), default=None)
        if n_nulls > 0:
            n_null_files += 1
            # nulls bucket LOW: a null-carrying file is either all-null
            # (fmax None — the extreme low bucket) or covers only the
            # bottom of the l_partkey domain; pre-fix, nulls rode the TOP
            # bucket and every null file covered the max
            assert fmax is None or fmax < hi * 0.9, (f, fmax, hi)
        # pruning check for a top-10% l_partkey slice
        if fmax is not None and fmax >= hi * 0.9:
            hit_high += 1
    assert n_null_files > 0
    assert hit_high / len(files) <= 0.5
    assert spark.read.parquet(zpath).count() == li.count()


def test_read_parquet_cached_invalidates_on_file_change(spark, tmp_path):
    """r16 fingerprint-keyed raw-path relation cache: same path + same
    bytes returns the cached DataFrame; rewriting any file under the
    path produces a fresh relation that sees the new contents."""
    from tez_spark.sources.catalog import read_parquet_cached

    p = str(tmp_path / "t.parquet")
    spark.range(3).write.mode("overwrite").parquet(p)
    a = read_parquet_cached(spark, p)
    b = read_parquet_cached(spark, p)
    assert a is b
    assert a.count() == 3

    spark.range(7).write.mode("overwrite").parquet(p)
    c = read_parquet_cached(spark, p)
    assert c is not a
    assert c.count() == 7


@pytest.mark.parametrize(
    "reader",
    [
        "tez_spark.sources.catalog:read_parquet_cached",
        "tez_spark.operators.similarity:_load_centroids",
    ],
)
def test_read_parquet_cached_missing_path_raises_spark_error(
    spark, tmp_path, reader
):
    """ADVICE r16/r17: a missing path must surface Spark's usual
    AnalysisException (the error callers of spark.read.parquet handle),
    not a FileNotFoundError leaked from the memo's fingerprint stat —
    for the relation memo and the centroid memo alike."""
    import importlib

    from pyspark.errors import AnalysisException

    mod, fn = reader.split(":")
    read = getattr(importlib.import_module(mod), fn)
    with pytest.raises(AnalysisException):
        read(spark, str(tmp_path / "never_written.parquet"))
