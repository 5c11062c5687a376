"""Fixture catalog: the driver-generated TPC-H-ish tables (TESTDATA.md).

Tez's root inputs are attached per-vertex via Vertex.addDataSource
(tez-api/.../dag/api/Vertex.java:334); here a scan is just
spark.read.parquet with Catalyst handling split planning, predicate
pushdown and column pruning (MRInputAMSplitGenerator / TezSplitGrouper
equivalents are built into the parquet DataSource).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tez_spark.memo import memo
from tez_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain TIMESTAMP by its ACTUAL type.

    The ingestion contract (FIXTURES.md): fixture regenerations have shipped
    events.ts as parquet TIMESTAMP(NANOS) (loads as int64 nanos under
    nanosAsLong), as timestamp[us] without timezone (loads as TIMESTAMP_NTZ
    when inferTimestampNTZ is on), and as plain TIMESTAMP. Every time-based
    operator (sessionize, interval/as-of joins, streaming windows) assumes
    TIMESTAMP, so adapt here — once, at the source — rather than per query.

    - LongType: nanos → truncate to micros with integer division (the same
      ns→us truncation DuckDB applies; a double intermediate would lose
      precision at 2^63-scale nanosecond values).
    - TimestampNTZType: cast to TIMESTAMP. Session TZ is pinned UTC, so the
      wall-clock values are identical.
    - TimestampType: already the contract type; no-op.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Columnar parquet scan: filters/projections
    applied downstream reach the scan (PushedFilters/ReadSchema).

    The resolved DataFrame is cached per live session (what a catalog
    does for resolved relations): a fresh spark.read.parquet costs a
    footer read + relation analysis (~70ms warm) on EVERY query build —
    ~300 loads across a bench run. DataFrames are immutable plans, so
    reuse is safe; the memo fingerprints the file (size+mtime walk), so
    a fixture regenerated mid-session invalidates the entry instead of
    silently reading the stale file-listing snapshot (ADVICE r4). The
    memo drops the entry with its session."""
    # includes nanosAsLong: a TIMESTAMP(NANOS) events.ts (one historical
    # fixture encoding) surfaces as int64 instead of a reader error;
    # normalize_event_ts then restores TIMESTAMP.
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        return normalize_event_ts(df) if name == "events" else df

    return memo(spark, ("table", os.path.abspath(sf_dir), name), read, [path])


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the SAME per-session, fingerprint-keyed
    relation cache as load_table — for non-fixture parquet the engine
    itself wrote (persisted ANN index stores, bucketed artifacts). A
    fresh read costs a footer read + relation analysis (~70-250 ms) on
    every query BUILD; the fingerprint key (size+mtime_ns walk) re-reads
    the moment any file under the path changes, so an appended or
    compacted store can never serve a stale file listing (r16).

    A missing or mid-delete path falls through to an UNCACHED read so
    Spark surfaces its usual AnalysisException instead of this helper
    leaking FileNotFoundError from os.stat (ADVICE r16)."""
    apply_runtime_confs(spark)
    return memo(
        spark,
        ("rawpath", os.path.abspath(path)),
        lambda: spark.read.parquet(path),
        [path],
    )


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    no Spark job, no scan (the row count every parquet writer records per
    file; what a real catalog serves as table statistics). Use this to
    feed cardinality hints (e.g. chunked_cross_join's n_left/n_right)
    instead of eager count() jobs in a query path. Fingerprint-keyed so a
    regenerated fixture refreshes the stat."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")

    def count() -> int:
        if not os.path.isdir(path):
            return pq.read_metadata(path).num_rows
        n = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.read_metadata(os.path.join(root, f)).num_rows
        return n

    return memo(None, ("row_count", os.path.abspath(sf_dir), name), count, [path])


def table_column_minmax(sf_dir: str, name: str, column: str):
    """(min, max) of a fixture-table numeric column from parquet
    ROW-GROUP statistics — no Spark job, no scan (numeric parquet stats
    are exact; this is what a catalog serves as column statistics).
    Feeds value-domain hints (rank_dominance_bucketed's bucket bounds)
    instead of a min/max aggregation job in the query path. Returns None
    when any row group lacks stats for the column; fingerprint-keyed so
    a regenerated fixture refreshes."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")

    def minmax():
        files = []
        if os.path.isdir(path):
            for root, _, fs in os.walk(path):
                files += [
                    os.path.join(root, f) for f in fs if f.endswith(".parquet")
                ]
        else:
            files = [path]
        mins, maxs = [], []
        for f in files:
            md = pq.read_metadata(f)
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != column:
                        continue
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        return None
                    mins.append(st.min)
                    maxs.append(st.max)
        return (float(min(mins)), float(max(maxs))) if mins else None

    key = ("minmax", os.path.abspath(sf_dir), name, column)
    return memo(None, key, minmax, [path])


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every fixture table present in sf_dir — through load_table,
    so the events nanos handling applies (a raw spark.read.parquet of
    events throws PARQUET_TYPE_ILLEGAL and its ts would surface as long
    rather than timestamp)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for the SQL entry point
    (Tez entry point 3 — Hive-style session, SimpleSessionExample.java —
    maps to a long-lived SparkSession with named views)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
