"""Structured Streaming smoke: the streaming plans produce the same
answers as their batch twins on the finite fixture."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_tumbling_stream_matches_batch(spark):
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.events import (
        run_to_completion,
        stream_events,
        tumbling_counts,
    )

    stream = stream_events(spark, SF_DIR)
    got = run_to_completion(tumbling_counts(stream), "t_tumble", spark)

    ev = load_table(spark, SF_DIR, "events")
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stateful_running_totals(spark):
    """applyInPandasWithState: final per-user state equals the batch
    aggregate (update-mode memory sink keeps the latest row per key)."""
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.events import stream_events
    from tez_spark.streaming.stateful import running_user_totals

    stream = stream_events(spark, SF_DIR)
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        """SELECT user_id, n_events, total_value FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY n_events DESC) rn FROM t_state) WHERE rn = 1"""
    )
    ev = load_table(spark, SF_DIR, "events")
    want = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    g = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in got.collect()}
    w = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in want.collect()}
    assert g == w and len(g) > 0


def test_dedup_stream_drops_replays(spark, tmp_path):
    """Streaming dedup over a source with planted duplicate event_ids:
    the append-mode output holds exactly one row per distinct id, equal to
    the batch dropDuplicates answer."""
    from tez_spark.sources.catalog import normalize_event_ts
    from tez_spark.streaming.events import dedup_stream

    # ts planted as int64 nanos — exercises the LongType branch of the
    # type-adaptive ingestion contract (normalize_event_ts).
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    rows = []
    for i in range(200):
        rows.append((i, 1_700_000_000_000_000_000 + i * 10**9, i % 7, "click", float(i), "{}"))
    rows += rows[:50]  # replay the first 50 events
    src = str(tmp_path / "dup_events")
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(src)

    raw = spark.readStream.schema(schema).parquet(src)
    stream = normalize_event_ts(raw)
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_id FROM t_dedup")
    assert got.count() == 200
    assert got.distinct().count() == 200


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream interval join (purchases x same-user clicks within
    1h lookback) produces exactly the batch join's pairs on the finite
    fixture."""
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.events import purchase_click_join, stream_events

    stream = stream_events(spark, SF_DIR)
    q = (
        purchase_click_join(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssjoin")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.p_id, r.c_id) for r in spark.sql("SELECT * FROM t_ssjoin").collect()}

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    want = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_session_window_stream_matches_batch(spark):
    """Value-level assertion against the batch session_window twin — a
    rows>0 smoke check previously let silently-wrong (epoch-1970) window
    boundaries pass."""
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.events import (
        run_to_completion,
        session_counts,
        stream_events,
    )

    stream = stream_events(spark, SF_DIR)
    got = run_to_completion(session_counts(stream), "t_sess", spark)

    ev = load_table(spark, SF_DIR, "events")
    want = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("t_start"),
            F.col("w.end").alias("t_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    g = {(r.t_start, r.t_end, r.user_id, r.n_events, round(r.sum_value, 6)) for r in got.collect()}
    w = {(r.t_start, r.t_end, r.user_id, r.n_events, round(r.sum_value, 6)) for r in want.collect()}
    assert g == w and len(g) > 0


def test_stateful_funnel_matches_batch(spark):
    """Streaming funnel (applyInPandasWithState sequential-pattern state
    machine) reaches the same per-stage user counts as the batch
    q_event_funnel on the finite fixture."""
    from tez_spark.plans.queries_ext import q_event_funnel
    from tez_spark.streaming.events import stream_events
    from tez_spark.streaming.stateful import funnel_stages

    stream = stream_events(spark, SF_DIR)
    q = (
        funnel_stages(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_funnel")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # latest state per user = max stage (stage is monotone across batches)
    got = spark.sql(
        "SELECT stage, COUNT(*) AS n FROM ("
        "  SELECT user_id, MAX(stage) AS stage FROM t_funnel GROUP BY user_id"
        ") GROUP BY stage"
    ).collect()
    by_stage = {r.stage: r.n for r in got}

    def at_least(s):
        return sum(n for stage, n in by_stage.items() if stage >= s)

    want = {r.stage: r.n_users for r in q_event_funnel(spark, SF_DIR).collect()}
    assert at_least(1) == want["1_view"]
    assert at_least(2) == want["2_click"]
    assert at_least(3) == want["3_purchase"]
    assert want["1_view"] > 0


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """DAG-recovery parity for streams (the reference replays a failed
    DAG from its recovery log; Structured Streaming replays from the
    checkpoint): a file-source -> parquet-sink query is stopped, new
    data arrives, and a RESTARTED query with the same checkpoint picks
    up exactly the unprocessed files — the sink holds every input id
    exactly once."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long"

    spark.range(0, 100).coalesce(1).write.mode("append").parquet(src)

    def start():
        return (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark.range(100, 250).coalesce(1).write.mode("append").parquet(src)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(got) == list(range(250))  # no loss, no duplicates


def test_incremental_rollup_upserts_match_batch(spark, oracle):
    """foreachBatch continuous-aggregate maintenance: update-mode micro-
    batches upserted into a serving store converge to exactly the batch
    hourly rollup (and the upsert callback really receives per-batch
    DELTAS, not the full state, on a multi-batch run); the converged
    store is ALSO value-compared against the DuckDB hourly rollup, so
    the streaming path has a cross-engine anchor, not just the engine's
    own batch twin (VERDICT r6 task 7)."""
    from tests.conftest import assert_df_matches_sql
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.events import maintain_rollup

    store: dict = {}
    batches: list[int] = []

    def upsert(batch_df, batch_id):
        rows = batch_df.collect()
        batches.append(len(rows))
        for r in rows:
            store[(r.ws, r.event_type)] = (r.n, r.sum_value)

    maintain_rollup(spark, SF_DIR, upsert)

    ev = load_table(spark, SF_DIR, "events")
    want = {
        (r.ws, r.event_type): (r.n, r.sum_value)
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
        ).collect()
    }
    assert store == want and len(store) > 0
    assert sum(batches) >= len(store)  # upserts delivered at least once per key

    # cross-engine anchor: the converged serving store vs DuckDB
    store_df = spark.createDataFrame(
        [(ws, et, n, float(sv)) for (ws, et), (n, sv) in store.items()],
        "ws timestamp, event_type string, n long, sum_value double",
    )
    assert_df_matches_sql(
        store_df,
        oracle,
        """
        SELECT date_trunc('hour', ts) AS ws, event_type,
               COUNT(*) AS n, SUM(value) AS sum_value
        FROM events GROUP BY 1, 2
        """,
    )


@pytest.mark.parametrize("n_batches", [1, 3])
def test_streaming_ingest_dedup_matches_incremental_batch(spark, tmp_path, n_batches):
    """maintain_dedup: streaming the new-batch docs through in
    n_batches micro-batches against the growing signature store must
    find exactly the pairs the batch dedup_incremental query reports —
    corpus hits AND pairs between docs that arrived in different
    micro-batches — each exactly once. One micro-batch is the registry
    query's own step over written files, so its rows equal the query's
    as they stand; over several, arrival order orients a pair of two
    arrivals, so those compare unordered."""
    from pyspark.sql import functions as F

    from tez_spark.plans.registry import all_queries
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_dedup

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    batch_docs = docs.filter(F.substring(h, 1, 2) >= "e6").select("doc_id", "text")

    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    # one arrival file per micro-batch (maxFilesPerTrigger=1)
    for i in range(n_batches):
        batch_docs.filter(F.col("doc_id") % n_batches == i).coalesce(1).write.parquet(
            os.path.join(stream_dir, f"arrival_{i}")
        )
    # flatten: the file-stream source wants files, not subdirs
    import glob
    import shutil

    for i, f in enumerate(
        sorted(glob.glob(os.path.join(stream_dir, "arrival_*", "*.parquet")))
    ):
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
    for d in glob.glob(os.path.join(stream_dir, "arrival_*")):
        shutil.rmtree(d)

    got: list[tuple] = []
    batches = set()

    def report(pairs, batch_id):
        batches.add(batch_id)
        got.extend(tuple(r) for r in pairs.collect())

    maintain_dedup(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir, report
    )
    assert len(batches) == n_batches, "stream did not split into micro-batches"

    want_rows = all_queries()["dedup_incremental"](spark, SF_DIR).collect()
    if n_batches == 1:
        assert sorted(got) == [tuple(r) for r in want_rows]
    batch_ids = {r.doc_id for r in batch_docs.select("doc_id").collect()}

    def norm(a, b, j):
        # batch-batch pairs: arrival order decides (da, db) in streaming
        # but id order in batch — compare as unordered
        if a in batch_ids and b in batch_ids:
            a, b = min(a, b), max(a, b)
        return (a, b, round(j, 6))

    want = {norm(*r) for r in want_rows}
    got_set = {norm(*g) for g in got}
    assert len(got) == len(got_set), "a pair was reported twice"
    assert got_set == want

    # restart semantics: a re-launched query resumes from the durable
    # checkpoint — already-committed batches are neither re-read nor
    # re-reported, and the store is not double-appended
    replay: list[tuple] = []
    maintain_dedup(
        spark,
        SF_DIR,
        str(tmp_path / "store"),
        stream_dir,
        lambda pairs, bid: replay.extend(pairs.collect()),
    )
    assert replay == [], "restart re-processed committed batches"


def test_streaming_ann_ingest_grows_index_and_recalls(spark, tmp_path):
    """maintain_ann: streaming the new-batch vectors through 3
    micro-batches against the GROWING IVF index. Each arrival is
    reported exactly once, with neighbors drawn from the corpus AND
    earlier arrivals (index growth observable whenever the exact truth
    says a prior arrival belongs in the top-k); per-vector recall vs the
    numpy exact truth over (corpus + prior arrivals) meets the same
    floor as the batch IVF paths; restart reprocesses nothing."""
    import glob
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_ann

    K = 5
    emb = load_table(spark, SF_DIR, "embeddings")
    h = F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8"))
    corpus = emb.filter(F.substring(h, 1, 2) < "e6")
    batch = emb.filter(F.substring(h, 1, 2) >= "e6").select("vec_id", "embedding")

    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    for i in range(3):
        batch.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
            os.path.join(stream_dir, f"arrival_{i}")
        )
    files = sorted(glob.glob(os.path.join(stream_dir, "arrival_*", "*.parquet")))
    for i, f in enumerate(files):
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
    for d in glob.glob(os.path.join(stream_dir, "arrival_*")):
        shutil.rmtree(d)

    reported: dict[int, list] = {}

    def report(topk, batch_id):
        reported[batch_id] = topk.collect()

    maintain_ann(spark, SF_DIR, str(tmp_path / "store"), stream_dir, report, k=K)
    assert len(reported) >= 3, "stream did not split into micro-batches"

    # numpy exact truth, replaying arrival order
    def mat(df):
        rows = df.select("vec_id", "embedding").collect()
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        return ids, V

    c_ids, C = mat(corpus)
    arrival_order = sorted(reported)
    prior_ids, prior_V = c_ids, C
    n_hits = n_truth = 0
    prior_arrival_neighbor_in_truth = prior_arrival_neighbor_reported = False
    arrival_id_sets = {
        bid: {r.q_id for r in rows} for bid, rows in reported.items()
    }
    for bid in arrival_order:
        rows = reported[bid]
        b_ids, B = mat(batch.filter(F.col("vec_id") % 3 == (bid % 3)))
        id_to_row = {int(i): r for r, i in enumerate(b_ids)}
        sims = B @ prior_V.T
        got_by_q: dict[int, set] = {}
        for r in rows:
            got_by_q.setdefault(r.q_id, set()).add(r.vec_id)
        for q_id, got_n in got_by_q.items():
            s = sims[id_to_row[q_id]]
            top = prior_ids[np.argsort(-s)[:K]]
            truth = set(int(x) for x in top)
            n_truth += len(truth)
            n_hits += len(truth & got_n)
            arrived_before = set(int(x) for x in prior_ids) - set(
                int(x) for x in c_ids
            )
            if truth & arrived_before:
                prior_arrival_neighbor_in_truth = True
                if got_n & arrived_before:
                    prior_arrival_neighbor_reported = True
        prior_ids = np.concatenate([prior_ids, b_ids])
        prior_V = np.vstack([prior_V, B])

    # exactly once: every arrival's top-k reported in exactly ONE batch
    # (per-batch q_id sets are pairwise disjoint)
    total = sum(len(s) for s in arrival_id_sets.values())
    assert total == len(set().union(*arrival_id_sets.values()))
    recall = n_hits / max(n_truth, 1)
    assert recall >= 0.3, f"streaming IVF recall collapsed: {recall:.2f}"
    # the index really grew: when the truth contains a prior arrival as a
    # neighbor, the probe (which read the appended cells) found one too
    if prior_arrival_neighbor_in_truth:
        assert prior_arrival_neighbor_reported, (
            "no reported neighbor ever came from an appended batch"
        )

    replay: dict[int, list] = {}
    maintain_ann(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir,
        lambda t, b: replay.setdefault(b, t.collect()), k=K,
    )
    assert replay == {}, "restart re-processed committed batches"


def test_streaming_ann_partial_seed_index_rebuilt(spark, tmp_path):
    """A crash during the SEED index build leaves centroids/ on disk with
    no vectors and no _COMPLETE marker (write_ivf_index writes centroids
    first). A stream restart must rebuild the seed atomically instead of
    probing the partial index (r6 advice: the old gate checked
    centroids/, the exact non-atomic pattern ensure_ivf_index fixed)."""
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_ann

    store = tmp_path / "store"
    idx = store / "index"
    os.makedirs(idx / "centroids")  # partial build: no vectors/, no marker

    emb = load_table(spark, SF_DIR, "embeddings")
    h = F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8"))
    batch = emb.filter(F.substring(h, 1, 2) >= "e6").select("vec_id", "embedding")
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    batch.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stream_dir, "b0")
    )
    import glob
    import shutil

    f = glob.glob(os.path.join(stream_dir, "b0", "*.parquet"))[0]
    shutil.move(f, os.path.join(stream_dir, "batch_0.parquet"))
    shutil.rmtree(os.path.join(stream_dir, "b0"))

    reported = {}
    maintain_ann(
        spark, SF_DIR, str(store), stream_dir,
        lambda t, b: reported.update({b: t.collect()}), k=3,
    )
    assert os.path.exists(idx / "_COMPLETE"), "seed rebuild skipped the marker"
    assert reported and all(len(v) > 0 for v in reported.values())


def test_streaming_ann_crash_replay_probes_prior_content_only(spark, tmp_path):
    """Crash between a batch's append write and its checkpoint commit:
    the replayed batch finds its OWN appends/batch_{bid} subdir on disk
    and must still probe prior content only — neighbors never come from
    the batch itself, and the replayed report equals the original run's
    (r6 advice: store_vectors used to union every append subdir)."""
    import glob
    import shutil

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_ann

    emb = load_table(spark, SF_DIR, "embeddings")
    h = F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8"))
    batch = emb.filter(F.substring(h, 1, 2) >= "e6").select("vec_id", "embedding")
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}

    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    batch.coalesce(1).write.parquet(os.path.join(stream_dir, "b0"))
    f = glob.glob(os.path.join(stream_dir, "b0", "*.parquet"))[0]
    shutil.move(f, os.path.join(stream_dir, "batch_0.parquet"))
    shutil.rmtree(os.path.join(stream_dir, "b0"))

    # clean first run: builds the seed index and writes appends/batch_0
    store1 = tmp_path / "store1"
    first = {}
    maintain_ann(
        spark, SF_DIR, str(store1), stream_dir,
        lambda t, b: first.update({b: {tuple(r) for r in t.collect()}}), k=3,
    )
    assert 0 in first and os.path.isdir(store1 / "appends" / "batch_0")

    # simulated crash replay: same seed index AND batch_0 append already
    # disk, but a FRESH checkpoint — batch 0 re-fires
    store2 = tmp_path / "store2"
    os.makedirs(store2)
    shutil.copytree(store1 / "index", store2 / "index")
    shutil.copytree(store1 / "appends", store2 / "appends")
    replayed = {}
    maintain_ann(
        spark, SF_DIR, str(store2), stream_dir,
        lambda t, b: replayed.update({b: {tuple(r) for r in t.collect()}}), k=3,
    )
    neighbor_ids = {vec_id for rows in replayed.values() for (_, vec_id, _, _) in rows}
    assert not (neighbor_ids & batch_ids), (
        "replayed batch reported neighbors from its own append dir"
    )
    assert replayed == first, "crash replay diverged from the original report"


@pytest.mark.parametrize("n_batches", [1, 3])
def test_maintain_decontaminate_matches_batch_query(spark, tmp_path, n_batches):
    """maintain_decontaminate: streaming the TRAIN split through in
    n_batches micro-batches against the growing distinct-gram store must
    report, summed per holdout doc, exactly the batch
    decontaminate_ngram query's n_shared_grams — each distinct shared
    gram contributing once, via the first batch that carried it — and a
    checkpoint restart must re-report nothing."""
    import glob
    import shutil
    from collections import defaultdict

    from pyspark.sql import functions as F

    from tez_spark.plans.registry import all_queries
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_decontaminate

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    train_docs = docs.filter(F.substring(h, 1, 2) < "e6").select("doc_id", "text")

    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    for i in range(n_batches):
        train_docs.filter(F.col("doc_id") % n_batches == i).coalesce(1).write.parquet(
            os.path.join(stream_dir, f"arrival_{i}")
        )
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(stream_dir, "arrival_*", "*.parquet")))
    ):
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
    for d in glob.glob(os.path.join(stream_dir, "arrival_*")):
        shutil.rmtree(d)

    totals: dict[int, int] = defaultdict(int)
    batches = set()

    def report(inc, batch_id):
        batches.add(batch_id)
        for r in inc.collect():
            totals[r.doc_id] += r.n_new_shared_grams

    maintain_decontaminate(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir, report
    )
    assert len(batches) == n_batches, "stream did not split into micro-batches"

    want_rows = all_queries()["decontaminate_ngram"](spark, SF_DIR).collect()
    want = {r.doc_id: r.n_shared_grams for r in want_rows if r.n_shared_grams > 0}
    assert want, "fixture has no contamination - the equivalence is vacuous"
    assert dict(totals) == want
    # zero-contamination holdout docs never appear as increments
    zero_ids = {r.doc_id for r in want_rows if r.n_shared_grams == 0}
    assert not (set(totals) & zero_ids)

    # restart semantics: committed batches are neither re-read nor
    # re-reported, and the gram store is not double-appended
    replay: list = []
    maintain_decontaminate(
        spark,
        SF_DIR,
        str(tmp_path / "store"),
        stream_dir,
        lambda inc, bid: replay.extend(inc.collect()),
    )
    assert replay == [], "restart re-processed committed batches"


def test_maintain_decontaminate_crash_replay_recomputes_identical_grams(
    spark, tmp_path
):
    """Crash between a batch's gram parquet commit and its checkpoint
    commit (ADVICE r12, medium): the replayed batch finds its OWN
    batch_{bid} subdir in the gram store and must left-anti against
    PRIOR content only — recomputing the identical new_g and report —
    instead of seeing its own grams as already "seen", reporting
    nothing, and overwrite-ERASING the committed grams (which later
    batches would then double-count). Mirrors
    test_streaming_ann_crash_replay_probes_prior_content_only."""
    import glob
    import shutil

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_decontaminate

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    train_docs = docs.filter(F.substring(h, 1, 2) < "e6").select("doc_id", "text")

    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    train_docs.coalesce(1).write.parquet(os.path.join(stream_dir, "b0"))
    f = glob.glob(os.path.join(stream_dir, "b0", "*.parquet"))[0]
    shutil.move(f, os.path.join(stream_dir, "batch_0.parquet"))
    shutil.rmtree(os.path.join(stream_dir, "b0"))

    # clean first run: seeds holdout_grams + gram_store and commits batch_0
    store1 = tmp_path / "store1"
    first: dict = {}
    maintain_decontaminate(
        spark, SF_DIR, str(store1), stream_dir,
        lambda inc, b: first.update({b: {tuple(r) for r in inc.collect()}}),
    )
    assert 0 in first and first[0], "clean run reported no contamination"
    assert os.path.isdir(store1 / "grams" / "batch_0")

    # simulated crash replay: holdout + gram store INCLUDING the
    # batch's own committed batch_0 subdir, but a FRESH checkpoint —
    # batch 0 re-fires against a store that already holds its grams
    store2 = tmp_path / "store2"
    os.makedirs(store2)
    shutil.copytree(store1 / "holdout_grams", store2 / "holdout_grams")
    shutil.copytree(store1 / "grams", store2 / "grams")
    replayed: dict = {}
    maintain_decontaminate(
        spark, SF_DIR, str(store2), stream_dir,
        lambda inc, b: replayed.update({b: {tuple(r) for r in inc.collect()}}),
    )
    assert replayed == first, (
        "crash replay diverged from the original report — the batch saw "
        "its own committed grams as prior store content"
    )
    # the overwrite must have REWRITTEN (not erased) the batch's grams:
    # a fresh store read sees the same distinct-gram count as store1
    n1 = spark.read.parquet(str(store1 / "grams" / "batch_0")).count()
    n2 = spark.read.parquet(str(store2 / "grams" / "batch_0")).count()
    assert n2 == n1 > 0, "replay erased or mutated the committed gram set"


def _merge_reported_spans(rows):
    """Interval-union re-merge of (doc_id, start, end, n) span rows —
    the test-side mirror of _merge_dup_spans' algebra (overlap merges,
    exact adjacency stays separate), used to compose per-batch reports
    with the seed corpus's own batch answer."""
    from collections import defaultdict

    by_doc = defaultdict(list)
    for d, s, e, n in rows:
        by_doc[d].append((s, e, n))
    out = set()
    for d, ivals in by_doc.items():
        ivals.sort()
        cs, ce, cn = ivals[0]
        for s, e, n in ivals[1:]:
            if s >= ce:  # adjacency (s == ce) stays separate: no shared char
                out.add((d, cs, ce, cn))
                cs, ce, cn = s, e, n
            else:
                ce, cn = max(ce, e), cn + n
        out.add((d, cs, ce, cn))
    return out


def test_maintain_exactsubstr_matches_batch_query(spark, tmp_path):
    """maintain_exactsubstr (VERDICT r13 item 5): streaming arrivals
    against the seed corpus's gram-frequency store must report, per
    batch, the spans newly duplicated by that batch — exactly once —
    such that reports + the corpus's own batch answer re-merge to
    q_exactsubstr_chars over corpus+arrivals. Arrivals exercise all
    three duplication modes: arrival-vs-corpus (copied corpus text —
    retro-reports the corpus singleton witness), within-batch dups
    (a doc and its copy arriving together), and unique text (reports
    nothing). A checkpoint restart must re-report nothing."""
    import glob
    import shutil

    from tez_spark.plans.registry import all_queries
    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_exactsubstr

    docs = load_table(spark, SF_DIR, "documents")
    corpus_rows = docs.select("doc_id", "text").collect()
    base = {r.doc_id: r.text for r in corpus_rows}
    long_ids = sorted(d for d, t in base.items() if len(t) >= 120)
    assert len(long_ids) >= 6, "fixture too short for arrival synthesis"

    # arrivals: 2 docs copying corpus text (cross-store dup), a pair
    # of identical new docs (within-batch dup), unique-text docs
    uniq = "z%d " * 40
    arrivals = [
        (9_000_001, base[long_ids[0]]),                  # vs corpus
        (9_000_002, base[long_ids[1]][10:110]),          # corpus substring
        (9_000_003, "w x y " * 30 + "end marker one"),   # twin A
        (9_000_004, "w x y " * 30 + "end marker one"),   # twin B (same batch)
        (9_000_005, uniq % tuple(range(40))),            # unique
        (9_000_006, uniq % tuple(range(40, 80))),        # unique
    ]
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    adf = spark.createDataFrame(arrivals, "doc_id long, text string")
    # 3 micro-batches: [vs-corpus, substring], [twins], [uniques]
    for i, pred in enumerate(
        ["doc_id <= 9000002", "doc_id in (9000003, 9000004)",
         "doc_id >= 9000005"]
    ):
        adf.filter(pred).coalesce(1).write.parquet(
            os.path.join(stream_dir, f"a{i}")
        )
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(stream_dir, "a*", "*.parquet")))
    ):
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
    for d in glob.glob(os.path.join(stream_dir, "a[0-9]")):
        shutil.rmtree(d)

    reported: dict[int, list] = {}
    maintain_exactsubstr(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir,
        lambda spans, bid: reported.update({bid: spans.collect()}),
    )
    assert len(reported) >= 3, "stream did not split into micro-batches"
    # every reported (doc, pos-window) appears in exactly one batch:
    # overlapping spans for one doc across batches are legal (window
    # unions), identical full rows are not
    all_rows = [tuple(r) for b in reported.values() for r in b]
    assert len(all_rows) == len(set(all_rows)), "a span was re-reported"
    # the unique-text batch reports nothing
    last_bid = max(reported)
    assert reported[last_bid] == [], "unique arrivals produced spans"

    # equivalence: reports + corpus's own answer == batch over combined
    corpus_spans = all_queries()["exactsubstr_chars"](spark, SF_DIR).collect()
    combined_dir = str(tmp_path / "combined")
    os.makedirs(combined_dir)
    docs.select("doc_id", "text").unionByName(adf).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.parquet(os.path.join(combined_dir, "documents.parquet"))
    want = {
        tuple(r)
        for r in all_queries()["exactsubstr_chars"](
            spark, combined_dir
        ).collect()
    }
    got = _merge_reported_spans(
        [tuple(r) for r in corpus_spans] + all_rows
    )
    assert got == want, (
        f"stream+corpus merge diverged from the batch answer: "
        f"missing={sorted(want - got)[:5]} extra={sorted(got - want)[:5]}"
    )

    # restart: committed batches are neither re-read nor re-reported
    replay: list = []
    maintain_exactsubstr(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir,
        lambda spans, bid: replay.extend(spans.collect()),
    )
    assert replay == [], "restart re-processed committed batches"


def test_maintain_exactsubstr_crash_replay_recomputes_identical_spans(
    spark, tmp_path
):
    """Crash between a batch's gram-frequency delta commit and its
    checkpoint commit: the replayed batch must read PRIOR store content
    only (own-subdir exclusion — the r12 ADVICE lesson), recomputing
    the identical spans and rewriting an identical delta, instead of
    counting its own committed grams as prior occurrences and
    mis-reporting every batch window as already-duplicated."""
    import glob
    import shutil

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_exactsubstr

    docs = load_table(spark, SF_DIR, "documents")
    txt = docs.select("text").filter(F.length("text") >= 150).first().text
    arrivals = [
        (9_100_001, txt),                       # duplicates corpus
        (9_100_002, "q r s t u v " * 25),       # unique
    ]
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    adf = spark.createDataFrame(arrivals, "doc_id long, text string")
    adf.coalesce(1).write.parquet(os.path.join(stream_dir, "a0"))
    f = glob.glob(os.path.join(stream_dir, "a0", "*.parquet"))[0]
    shutil.move(f, os.path.join(stream_dir, "batch_0.parquet"))
    shutil.rmtree(os.path.join(stream_dir, "a0"))

    store1 = tmp_path / "store1"
    first: dict = {}
    maintain_exactsubstr(
        spark, SF_DIR, str(store1), stream_dir,
        lambda spans, b: first.update({b: {tuple(r) for r in spans.collect()}}),
    )
    assert 0 in first and first[0], "clean run reported no spans"
    assert os.path.isdir(store1 / "gramfreq" / "batch_0")

    # simulated crash replay: store INCLUDING the batch's own committed
    # delta subdir, but a FRESH checkpoint — batch 0 re-fires
    store2 = tmp_path / "store2"
    os.makedirs(store2)
    shutil.copytree(store1 / "gramfreq", store2 / "gramfreq")
    replayed: dict = {}
    maintain_exactsubstr(
        spark, SF_DIR, str(store2), stream_dir,
        lambda spans, b: replayed.update(
            {b: {tuple(r) for r in spans.collect()}}
        ),
    )
    assert replayed == first, (
        "crash replay diverged — the batch saw its own committed delta "
        "as prior store content"
    )
    n1 = spark.read.parquet(str(store1 / "gramfreq" / "batch_0")).count()
    n2 = spark.read.parquet(str(store2 / "gramfreq" / "batch_0")).count()
    assert n2 == n1 > 0, "replay erased or mutated the committed delta"


def test_maintain_exactsubstr_cross_batch_crossing_retroreports(
    spark, tmp_path
):
    """The 1 -> >=2 crossing between two ARRIVAL batches (neither side
    in the seed corpus): batch 0 carries a unique doc X — reports
    nothing, stores X's grams as singleton witnesses; batch 1 carries a
    copy of X — and must report BOTH the copy's span AND X's span
    retro-actively from the stored witnesses. Covers the store-to-store
    crossing the corpus-vs-arrival equivalence test doesn't isolate."""
    import glob
    import shutil

    from tez_spark.streaming.ingest import maintain_exactsubstr

    # non-self-repetitive: every 50-char window inside X is distinct
    # (a repeating phrase would make batch 0 self-duplicated — correct
    # behavior, but not the crossing this test isolates)
    text_x = " ".join(f"uniqword{i:03d}" for i in range(24))  # 311 chars
    arrivals = [
        (9_200_001, text_x),             # batch 0: singleton
        (9_200_002, text_x),             # batch 1: duplicates batch 0
    ]
    stream_dir = str(tmp_path / "arrivals")
    os.makedirs(stream_dir)
    for i, row in enumerate(arrivals):
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.parquet(os.path.join(stream_dir, f"a{i}"))
    for i, f in enumerate(
        sorted(glob.glob(os.path.join(stream_dir, "a*", "*.parquet")))
    ):
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
    for d in glob.glob(os.path.join(stream_dir, "a[0-9]")):
        shutil.rmtree(d)

    reported: dict[int, list] = {}
    maintain_exactsubstr(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir,
        lambda spans, bid: reported.update({bid: spans.collect()}),
    )
    assert reported[0] == [], "singleton batch must report nothing"
    got = {(r.doc_id, r.span_start, r.span_end) for r in reported[1]}
    # both docs' full text is one maximal duplicated span (the final
    # space of the last repeat carries no 50-char window start beyond
    # len-50, so span_end == len(text))
    n = len(text_x)
    assert got == {(9_200_001, 0, n), (9_200_002, 0, n)}, got
    # every window position counted exactly once per doc
    for r in reported[1]:
        assert r.n_windows == n - 50 + 1


def test_compact_exactsubstr_store_preserves_semantics(spark, tmp_path):
    """compact_exactsubstr_store folds seed + committed deltas into one
    aggregated seed (keeping the last batch subdir out — the only one a
    crash can replay) without changing ANY subsequent report: a stream
    that compacts mid-run reports exactly what an uncompacted twin
    reports, including a retro-crossing whose singleton witness lives
    INSIDE the compacted aggregate. Also pins the interrupted-swap
    recovery."""
    import glob
    import shutil

    from tez_spark.streaming.ingest import (
        _recover_swap,
        compact_exactsubstr_store,
        maintain_exactsubstr,
    )

    doc_a = " ".join(f"compact_a{i:03d}" for i in range(24))
    doc_b = " ".join(f"compact_b{i:03d}" for i in range(24))

    def write_batches(stream_dir, rows_per_batch):
        os.makedirs(stream_dir, exist_ok=True)
        start = len(glob.glob(os.path.join(stream_dir, "batch_*.parquet")))
        for j, rows in enumerate(rows_per_batch):
            i = start + j
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.parquet(os.path.join(stream_dir, f"t{i}"))
            f = glob.glob(os.path.join(stream_dir, f"t{i}", "*.parquet"))[0]
            shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
            shutil.rmtree(os.path.join(stream_dir, f"t{i}"))

    phase1 = [[(9_300_001, doc_a)], [(9_300_002, doc_b)]]
    phase2 = [[(9_300_003, doc_a), (9_300_004, doc_b)]]

    def run(store, stream_dir, out):
        maintain_exactsubstr(
            spark, SF_DIR, str(store), stream_dir,
            lambda spans, bid: out.update(
                {bid: sorted(tuple(r) for r in spans.collect())}
            ),
        )

    # twin WITHOUT compaction
    plain_stream = str(tmp_path / "s_plain")
    write_batches(plain_stream, phase1 + phase2)
    plain: dict = {}
    run(tmp_path / "store_plain", plain_stream, plain)

    # compacting run: drain phase 1, compact, then phase 2 arrives
    c_stream = str(tmp_path / "s_compact")
    write_batches(c_stream, phase1)
    compacted: dict = {}
    run(tmp_path / "store_c", c_stream, compacted)
    freq = tmp_path / "store_c" / "gramfreq"
    before = sorted(os.listdir(freq))
    folded = compact_exactsubstr_store(spark, str(tmp_path / "store_c"))
    after = sorted(os.listdir(freq))
    assert folded == 2 and before == ["batch_0", "batch_1", "seed"]
    assert after == ["batch_1", "seed"], after  # last batch kept out
    write_batches(c_stream, phase2)
    run(tmp_path / "store_c", c_stream, compacted)

    assert compacted == plain, (
        f"compaction changed reports: {compacted} != {plain}"
    )
    # the retro-crossing rows really are there: doc_a's witness came
    # from the COMPACTED aggregate, doc_b's from the kept batch_1
    got_docs = {r[0] for r in compacted[2]}
    assert got_docs == {9_300_001, 9_300_002, 9_300_003, 9_300_004}

    # interrupted-swap recovery: live store missing, compacted twin
    # present -> recovered; a later maintain call must NOT reseed.
    # Recapture the listing NOW — phase 2 legitimately committed a new
    # batch_2 delta after the `after` snapshot was taken (VERDICT r14).
    final = sorted(os.listdir(freq))
    assert final == sorted(after + ["batch_2"]), final
    os.rename(freq, str(freq) + "_compact")
    assert not os.path.exists(freq)
    # a marker-less orphan twin is ambiguous (possibly incomplete after
    # power loss) — _recover_swap must refuse, not promote (ADVICE r15)
    with pytest.raises(RuntimeError, match="_FOLDED"):
        _recover_swap(str(freq))
    with open(os.path.join(str(freq) + "_compact", "_FOLDED"), "w") as f:
        f.write("ok\n")
    _recover_swap(str(freq))
    assert os.path.exists(freq) and sorted(os.listdir(freq)) == final


def _write_doc_batches(spark, stream_dir, rows_per_batch):
    """Append one single-file parquet micro-batch per row list (the
    file-stream source reads files in name order, maxFilesPerTrigger=1)."""
    import glob
    import shutil

    os.makedirs(stream_dir, exist_ok=True)
    start = len(glob.glob(os.path.join(stream_dir, "batch_*.parquet")))
    for j, rows in enumerate(rows_per_batch):
        i = start + j
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.parquet(os.path.join(stream_dir, f"t{i}"))
        f = glob.glob(os.path.join(stream_dir, f"t{i}", "*.parquet"))[0]
        shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
        shutil.rmtree(os.path.join(stream_dir, f"t{i}"))


def _holdout_texts(spark, n):
    """Texts of n holdout documents (md5(doc_id) >= "e6"), the split
    maintain_decontaminate builds its holdout gram table from."""
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    return [
        r.text
        for r in docs.filter(F.substring(h, 1, 2) >= "e6")
        .select("text")
        .limit(n)
        .collect()
    ]


def _rounded(row):
    """A report row as a tuple, floats rounded to 6 decimals."""
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def _assert_interrupted_swap_recovers(delta_dir):
    """Shared tail assertion: simulate the crash window between the two
    swap renames (live store gone, compacted twin present — carrying
    the _FOLDED completeness marker a real pre-swap fsync leaves) and
    pin that _recover_swap restores the exact current listing, and that
    a marker-LESS twin is refused instead of promoted (ADVICE r15)."""
    from tez_spark.streaming.ingest import _recover_swap

    final = sorted(os.listdir(delta_dir))
    os.rename(delta_dir, str(delta_dir) + "_compact")
    assert not os.path.exists(delta_dir)
    with pytest.raises(RuntimeError, match="_FOLDED"):
        _recover_swap(str(delta_dir))
    with open(os.path.join(str(delta_dir) + "_compact", "_FOLDED"), "w") as f:
        f.write("ok\n")
    _recover_swap(str(delta_dir))
    assert os.path.exists(delta_dir) and sorted(os.listdir(delta_dir)) == final


def test_compact_dedup_store_preserves_semantics(spark, tmp_path):
    """compact_dedup_store folds seed + committed shingle/band deltas
    into one seed per table (keeping the last batch subdir out) without
    changing ANY subsequent report: a stream that compacts mid-run
    reports exactly what an uncompacted twin reports, including a pair
    whose prior-side signatures live INSIDE the compacted aggregate."""
    from tez_spark.streaming.ingest import compact_dedup_store, maintain_dedup

    base_a = " ".join(f"cdedup_a{i:03d}" for i in range(30))
    base_b = " ".join(f"cdedup_b{i:03d}" for i in range(30))
    phase1 = [[(9_400_001, base_a)], [(9_400_002, base_b)]]
    # near-dup of the PHASE-1 doc_a (one trailing token changed): its
    # prior-side signatures sit in the folded seed after compaction
    phase2 = [[(9_400_003, base_a[: -len("a029")] + "zzzz")]]

    def run(store, stream_dir, out):
        maintain_dedup(
            spark, SF_DIR, str(store), stream_dir,
            lambda pairs, bid: out.update(
                {bid: sorted((r.da, r.db, round(r.j, 6)) for r in pairs.collect())}
            ),
        )

    plain_stream = str(tmp_path / "s_plain")
    _write_doc_batches(spark, plain_stream, phase1 + phase2)
    plain: dict = {}
    run(tmp_path / "store_plain", plain_stream, plain)

    c_stream = str(tmp_path / "s_compact")
    _write_doc_batches(spark, c_stream, phase1)
    compacted: dict = {}
    run(tmp_path / "store_c", c_stream, compacted)
    sh = tmp_path / "store_c" / "shingles"
    bands = tmp_path / "store_c" / "bands"
    folded = compact_dedup_store(spark, str(tmp_path / "store_c"))
    # both tables folded seed+batch_0, each keeping batch_1 out
    assert folded == 4
    assert sorted(os.listdir(sh)) == ["batch_1", "seed"]
    assert sorted(os.listdir(bands)) == ["batch_1", "seed"]
    _write_doc_batches(spark, c_stream, phase2)
    run(tmp_path / "store_c", c_stream, compacted)

    assert compacted == plain, (
        f"compaction changed reports: {compacted} != {plain}"
    )
    # the cross-compaction pair really is there: doc_a arrived in
    # batch_0 (now folded into the seed), its near-dup in batch_2
    assert any(da == 9_400_001 and db == 9_400_003 for da, db, _ in compacted[2])

    _assert_interrupted_swap_recovers(sh)
    _assert_interrupted_swap_recovers(bands)


def test_compact_ann_store_preserves_semantics(spark, tmp_path):
    """compact_ann_store folds committed per-batch vector appends into
    one cell-partitioned seed (keeping the last batch out) without
    changing ANY subsequent report: a stream that compacts mid-run
    reports exactly what an uncompacted twin reports, including
    neighbors drawn from the folded appends."""
    import glob
    import shutil

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import compact_ann_store, maintain_ann

    emb = load_table(spark, SF_DIR, "embeddings")
    h = F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8"))
    arrivals = emb.filter(F.substring(h, 1, 2) >= "e6").select(
        "vec_id", "embedding"
    )

    # 4 arrival batches: the appends store has no seed subdir (the seed
    # is the index itself), so a real fold needs >= 3 committed batches
    def write_vec_batches(stream_dir, parts):
        os.makedirs(stream_dir, exist_ok=True)
        start = len(glob.glob(os.path.join(stream_dir, "batch_*.parquet")))
        for j, p in enumerate(parts):
            i = start + j
            arrivals.filter(F.col("vec_id") % 4 == p).coalesce(1).write.parquet(
                os.path.join(stream_dir, f"t{i}")
            )
            f = glob.glob(os.path.join(stream_dir, f"t{i}", "*.parquet"))[0]
            shutil.move(f, os.path.join(stream_dir, f"batch_{i}.parquet"))
            shutil.rmtree(os.path.join(stream_dir, f"t{i}"))

    def run(store, stream_dir, out):
        maintain_ann(
            spark, SF_DIR, str(store), stream_dir,
            lambda topk, bid: out.update(
                {bid: sorted(
                    (r.q_id, r.vec_id, round(r.sim, 6), r.rn)
                    for r in topk.collect()
                )}
            ),
            k=3,
        )

    plain_stream = str(tmp_path / "s_plain")
    write_vec_batches(plain_stream, [0, 1, 2, 3])
    plain: dict = {}
    run(tmp_path / "store_plain", plain_stream, plain)

    c_stream = str(tmp_path / "s_compact")
    write_vec_batches(c_stream, [0, 1, 2])
    compacted: dict = {}
    run(tmp_path / "store_c", c_stream, compacted)
    appends = tmp_path / "store_c" / "appends"
    folded = compact_ann_store(spark, str(tmp_path / "store_c"))
    assert folded == 2 and sorted(os.listdir(appends)) == ["batch_2", "seed"]
    # the folded seed kept the cell partitioning (probe-path pruning)
    assert glob.glob(os.path.join(appends, "seed", "cell=*")), (
        "compacted ANN seed lost its cell partitioning"
    )
    write_vec_batches(c_stream, [3])
    run(tmp_path / "store_c", c_stream, compacted)

    assert compacted == plain, (
        f"compaction changed reports: {compacted} != {plain}"
    )
    # batch 3's neighbors include earlier-batch arrivals (the folded
    # appends really are probed)
    batch_ids = {r.vec_id for r in arrivals.select("vec_id").collect()}
    n_from_arrivals = {v for _, v, _, _ in compacted[3] if v in batch_ids}
    assert n_from_arrivals, "no neighbors drawn from folded appends"

    _assert_interrupted_swap_recovers(appends)


def test_compact_decontaminate_store_preserves_semantics(spark, tmp_path):
    """compact_decontaminate_store folds seed + committed distinct-gram
    deltas into one seed (keeping the last batch out) without changing
    ANY subsequent report: a stream that compacts mid-run reports
    exactly what an uncompacted twin reports — grams first seen before
    the compaction stay 'seen' (no double counting), grams first seen
    after it still report."""
    from collections import defaultdict

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import (
        compact_decontaminate_store,
        maintain_decontaminate,
    )

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    train = docs.filter(F.substring(h, 1, 2) < "e6").select("doc_id", "text")
    parts = [
        [tuple(r) for r in train.filter(F.col("doc_id") % 3 == i).collect()]
        for i in range(3)
    ]

    def run(store, stream_dir, out):
        maintain_decontaminate(
            spark, SF_DIR, str(store), stream_dir,
            lambda inc, bid: out.update(
                {bid: sorted(
                    (r.doc_id, r.n_new_shared_grams) for r in inc.collect()
                )}
            ),
        )

    plain_stream = str(tmp_path / "s_plain")
    _write_doc_batches(spark, plain_stream, parts)
    plain: dict = {}
    run(tmp_path / "store_plain", plain_stream, plain)

    c_stream = str(tmp_path / "s_compact")
    _write_doc_batches(spark, c_stream, parts[:2])
    compacted: dict = {}
    run(tmp_path / "store_c", c_stream, compacted)
    grams = tmp_path / "store_c" / "grams"
    folded = compact_decontaminate_store(spark, str(tmp_path / "store_c"))
    assert folded == 2 and sorted(os.listdir(grams)) == ["batch_1", "seed"]
    # idempotent no-op: a second compaction has nothing to fold (the
    # kept batch must never fold into the seed while it could replay)
    assert compact_decontaminate_store(spark, str(tmp_path / "store_c")) == 0
    assert sorted(os.listdir(grams)) == ["batch_1", "seed"]
    _write_doc_batches(spark, c_stream, parts[2:])
    run(tmp_path / "store_c", c_stream, compacted)

    assert compacted == plain, (
        f"compaction changed reports: {compacted} != {plain}"
    )
    # summed increments still equal the batch query (the existing
    # equivalence, now across a compaction boundary)
    totals: dict[int, int] = defaultdict(int)
    for rows in compacted.values():
        for doc_id, n in rows:
            totals[doc_id] += n
    from tez_spark.plans.registry import all_queries

    want_rows = all_queries()["decontaminate_ngram"](spark, SF_DIR).collect()
    want = {r.doc_id: r.n_shared_grams for r in want_rows if r.n_shared_grams > 0}
    assert dict(totals) == want

    _assert_interrupted_swap_recovers(grams)


def test_guard_store_checkpoint_rejects_forgotten_commits(spark, tmp_path):
    """ADVICE r14: a kept store + deleted/foreign checkpoint must refuse
    to stream — batch ids would restart at 0 and overwrite committed
    deltas. Unit-pins the shared guard's boundary (at most ONE batch
    beyond the last commit — the single legitimately in-flight batch a
    crash can leave), then end-to-end: maintain_exactsubstr on a
    multi-batch store whose checkpoint was deleted raises before any
    write."""
    import pytest

    from tez_spark.streaming.ingest import (
        _guard_store_checkpoint,
        maintain_exactsubstr,
    )

    # unit boundary: commits up to 1 -> batch_2 in-flight ok, batch_3 not
    store = tmp_path / "u"
    delta = store / "gramfreq"
    for d in ("checkpoint/commits", "gramfreq/seed"):
        os.makedirs(store / d)
    for c in ("0", "1"):
        (store / "checkpoint" / "commits" / c).write_text("")
    for b in ("batch_0", "batch_1", "batch_2"):
        os.makedirs(delta / b)
    _guard_store_checkpoint(str(store), str(delta))  # in-flight: allowed
    os.makedirs(delta / "batch_3")
    with pytest.raises(ValueError, match="committed only up to 1"):
        _guard_store_checkpoint(str(store), str(delta))
    # missing checkpoint: only a lone batch_0 is ambiguous-and-allowed
    store2 = tmp_path / "u2"
    os.makedirs(store2 / "gramfreq" / "batch_0")
    _guard_store_checkpoint(str(store2), str(store2 / "gramfreq"))
    os.makedirs(store2 / "gramfreq" / "batch_1")
    with pytest.raises(ValueError):
        _guard_store_checkpoint(str(store2), str(store2 / "gramfreq"))

    # end-to-end: build a real 2-batch store, delete its checkpoint,
    # assert the restart refuses and the store is untouched
    import shutil

    doc_a = " ".join(f"guard_a{i:03d}" for i in range(24))
    doc_b = " ".join(f"guard_b{i:03d}" for i in range(24))
    stream_dir = str(tmp_path / "s")
    _write_doc_batches(
        spark, stream_dir, [[(9_500_001, doc_a)], [(9_500_002, doc_b)]]
    )
    e2e_store = tmp_path / "store"
    maintain_exactsubstr(
        spark, SF_DIR, str(e2e_store), stream_dir, lambda s, b: s.collect()
    )
    shutil.rmtree(e2e_store / "checkpoint")
    before = sorted(os.listdir(e2e_store / "gramfreq"))
    with pytest.raises(ValueError, match="overwrite committed deltas"):
        maintain_exactsubstr(
            spark, SF_DIR, str(e2e_store), stream_dir, lambda s, b: None
        )
    assert sorted(os.listdir(e2e_store / "gramfreq")) == before


def test_maintain_dedup_crash_replay_reports_no_self_pairs(spark, tmp_path):
    """Crash between a batch's signature commit and its checkpoint
    commit (r15 self-audit — the one maintain_* that still read its
    store with an everything glob): the replayed batch finds its OWN
    shingle/band subdirs on disk and must still join against PRIOR
    content only — no doc ever pairs with itself at j=1.0, within-batch
    pairs are not doubled, and the replayed report equals the original
    run's."""
    from tez_spark.streaming.ingest import maintain_dedup

    base = " ".join(f"ddreplay_{i:03d}" for i in range(30))
    near = base[: -len("_029")] + "zzzz"  # within-batch near-dup pair
    batch = [[(9_900_001, base), (9_900_002, near)]]

    def run(store, stream_dir, out):
        maintain_dedup(
            spark, SF_DIR, str(store), stream_dir,
            lambda pairs, bid: out.update(
                {bid: sorted((r.da, r.db, round(r.j, 6)) for r in pairs.collect())}
            ),
        )

    stream_dir = str(tmp_path / "arrivals")
    _write_doc_batches(spark, stream_dir, batch)
    store1 = tmp_path / "store1"
    first: dict = {}
    run(store1, stream_dir, first)
    assert os.path.isdir(store1 / "shingles" / "batch_0")
    assert any(da == 9_900_001 and db == 9_900_002 for da, db, _ in first[0])

    # simulated crash replay: seed + batch_0 signatures already on disk
    # in BOTH tables, but a fresh checkpoint — batch 0 re-fires
    import shutil

    store2 = tmp_path / "store2"
    os.makedirs(store2)
    shutil.copytree(store1 / "shingles", store2 / "shingles")
    shutil.copytree(store1 / "bands", store2 / "bands")
    replayed: dict = {}
    run(store2, stream_dir, replayed)
    assert not any(da == db for da, db, _ in replayed[0]), (
        "replayed batch paired docs with themselves via its own subdir"
    )
    assert replayed == first, "crash replay diverged from the original report"


@pytest.mark.parametrize(
    "maintain, tables",
    [
        ("maintain_dedup", ("shingles", "bands")),
        ("maintain_decontaminate", ("grams",)),
        ("maintain_exactsubstr", ("gramfreq",)),
    ],
    ids=["maintain_dedup", "maintain_decontaminate", "maintain_exactsubstr"],
)
def test_report_crash_replays_to_clean_reports(spark, tmp_path, maintain, tables):
    """Every maintain_* writes a batch's delta subdirs BEFORE it reports.
    A report that raises on the first delivery of batch 0 leaves those
    subdirs on disk with no checkpoint commit; re-running on the same
    store and checkpoint replays batch 0 and must report exactly what a
    clean run reports — no self-pairs, no duplicates — including the
    later batch's report against the replayed batch's delta."""
    from tez_spark.streaming import ingest

    base = " ".join(f"ddcrash_{i:03d}" for i in range(30))
    near = base[: -len("_029")] + "zzzz"
    nearer = base[: -len("_028 ddcrash_029")] + "yyyy zzzz"
    batches = [[(9_910_001, base), (9_910_002, near)], [(9_910_003, nearer)]]
    if maintain == "maintain_decontaminate":
        # contamination needs holdout text; batch 1 repeats batch 0's
        hold = _holdout_texts(spark, 2)
        batches = [
            [(9_910_001, hold[0])], [(9_910_002, hold[0]), (9_910_003, hold[1])]
        ]

    def run(store, stream_dir, out):
        getattr(ingest, maintain)(
            spark, SF_DIR, str(store), stream_dir,
            lambda df, bid: out.setdefault(bid, []).extend(
                _rounded(r) for r in df.collect()
            ),
        )

    clean_stream = str(tmp_path / "s_clean")
    _write_doc_batches(spark, clean_stream, batches)
    clean: dict = {}
    run(tmp_path / "store_clean", clean_stream, clean)
    assert clean.get(0) and clean.get(1), clean
    if maintain == "maintain_dedup":
        assert any(da == 9_910_001 and db == 9_910_003 for da, db, _ in clean[1])

    stream_dir = str(tmp_path / "s")
    _write_doc_batches(spark, stream_dir, batches)
    store = tmp_path / "store"

    def crashing_report(df, batch_id):
        raise RuntimeError("report crashed on its first delivery")

    with pytest.raises(Exception, match="report crashed"):
        getattr(ingest, maintain)(
            spark, SF_DIR, str(store), stream_dir, crashing_report
        )
    for table in tables:
        assert os.path.isdir(store / table / "batch_0"), (
            f"{table}/batch_0 was not written before the report"
        )

    replayed: dict = {}
    run(store, stream_dir, replayed)
    for bid, rows in replayed.items():
        if maintain == "maintain_dedup":
            assert not any(da == db for da, db, _ in rows), (bid, rows)
        assert len(rows) == len(set(rows)), f"batch {bid} reported a row twice"
    assert {b: sorted(p) for b, p in replayed.items()} == {
        b: sorted(p) for b, p in clean.items()
    }


def test_maintain_dedup_report_plan_reads_signature_files(spark, tmp_path):
    """The pairs handed to report are planned over the batch's written
    signature files: no minhash term (`pmod(`) anywhere in the executed
    plan, so no InMemoryRelation over the minhash aggregate either —
    the report's tasks never carry that lineage."""
    from tez_spark.streaming.ingest import maintain_dedup

    base = " ".join(f"ddplan_{i:03d}" for i in range(30))
    near = base[: -len("_029")] + "zzzz"
    stream_dir = str(tmp_path / "s")
    _write_doc_batches(spark, stream_dir, [[(9_920_001, base), (9_920_002, near)]])
    plans: list[str] = []

    def report(pairs, batch_id):
        rows = pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        plans.append(plan)
        assert "pmod(" not in plan, plan
        assert "FileScan parquet" in plan, plan
        assert any(r.da == 9_920_001 and r.db == 9_920_002 for r in rows)

    maintain_dedup(spark, SF_DIR, str(tmp_path / "store"), stream_dir, report)
    assert len(plans) == 1


def test_maintain_decontaminate_report_plan_reads_gram_files(spark, tmp_path):
    """The increments handed to report are planned over the batch's
    written gram subdir: a parquet scan of grams/batch_0 and no
    InMemoryRelation — the report's tasks never carry the new-gram
    lineage."""
    from tez_spark.streaming.ingest import maintain_decontaminate

    stream_dir = str(tmp_path / "s")
    _write_doc_batches(
        spark, stream_dir, [[(9_930_001, _holdout_texts(spark, 1)[0])]]
    )
    plans: list[str] = []

    def report(inc, batch_id):
        rows = inc.collect()
        plan = inc._jdf.queryExecution().executedPlan().toString()
        plans.append(plan)
        assert "InMemoryRelation" not in plan, plan
        assert "FileScan parquet" in plan, plan
        batch_files = os.path.join("store", "grams", "batch_0", "")
        assert any(batch_files in f for f in inc.inputFiles()), inc.inputFiles()
        assert rows, "a holdout text reported no contamination"

    maintain_decontaminate(
        spark, SF_DIR, str(tmp_path / "store"), stream_dir, report
    )
    assert len(plans) == 1


def test_crash_during_seeding_reseeds_the_store(spark, tmp_path):
    """A killed Spark write leaves its target dir behind holding only
    _temporary/. A store whose seed write was killed must be seeded
    again on the next run, not streamed against as an empty seed: a
    batch carrying an exact copy of a corpus doc reports the same pairs
    as on a clean store — for a killed band seed write (shingle seed
    complete) and for a killed shingle seed write (no band seed)."""
    import shutil

    from tez_spark.sources.catalog import load_table
    from tez_spark.streaming.ingest import maintain_dedup

    docs = load_table(spark, SF_DIR, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    doc = (
        docs.filter((F.substring(h, 1, 2) < "e6") & (F.length("text") >= 200))
        .orderBy("doc_id")
        .first()
    )
    stream_dir = str(tmp_path / "s")
    _write_doc_batches(spark, stream_dir, [[(99_000_001, doc.text)]])

    def run(store):
        out: list = []
        maintain_dedup(
            spark, SF_DIR, str(store), stream_dir,
            lambda pairs, bid: out.extend(_rounded(r) for r in pairs.collect()),
        )
        return sorted(out)

    clean = run(tmp_path / "clean")
    assert (doc.doc_id, 99_000_001, 1.0) in clean, clean

    bands_killed = tmp_path / "bands_killed"
    shutil.copytree(
        tmp_path / "clean" / "shingles" / "seed",
        bands_killed / "shingles" / "seed",
    )
    os.makedirs(bands_killed / "bands" / "seed" / "_temporary" / "0")
    shingles_killed = tmp_path / "shingles_killed"
    os.makedirs(shingles_killed / "shingles" / "seed" / "_temporary" / "0")
    for store in (bands_killed, shingles_killed):
        assert run(store) == clean, store.name


def test_compact_refuses_live_stream(spark, tmp_path):
    """VERDICT r15 item 2a: the no-active-stream precondition is now
    MECHANICAL. (1) compaction invoked while a maintain_* stream is
    live on the store (from inside its report callback — the stream is
    mid-batch there) raises instead of renaming the store out from
    under the in-flight plan; (2) a checkpoint whose offsets log is
    ahead of its commits log (in-flight or crashed-mid-batch) refuses;
    (3) after the stream stops cleanly, the same call succeeds."""
    from tez_spark.streaming.ingest import (
        compact_decontaminate_store,
        maintain_decontaminate,
    )

    doc_a = " ".join(f"livelock_a{i:03d}" for i in range(24))
    doc_b = " ".join(f"livelock_b{i:03d}" for i in range(24))
    stream_dir = str(tmp_path / "s")
    _write_doc_batches(
        spark, stream_dir, [[(9_700_001, doc_a)], [(9_700_002, doc_b)]]
    )
    store = str(tmp_path / "store")
    refusals: list[str] = []

    def report(inc, batch_id):
        inc.collect()
        try:
            compact_decontaminate_store(spark, store)
        except ValueError as e:
            refusals.append(str(e))

    maintain_decontaminate(spark, SF_DIR, store, stream_dir, report)
    assert len(refusals) == 2 and all(
        "_STREAM_LOCK" in m for m in refusals
    ), refusals

    # crafted in-flight checkpoint: offsets ahead of commits
    store2 = tmp_path / "store2"
    os.makedirs(store2 / "checkpoint" / "offsets")
    os.makedirs(store2 / "checkpoint" / "commits")
    os.makedirs(store2 / "grams" / "seed")
    for o in ("0", "1"):
        (store2 / "checkpoint" / "offsets" / o).write_text("")
    (store2 / "checkpoint" / "commits" / "0").write_text("")
    with pytest.raises(ValueError, match="in flight"):
        compact_decontaminate_store(spark, str(store2))

    # quiesced store: the refusal lifts (too few deltas to fold -> 0)
    assert compact_decontaminate_store(spark, store) >= 0


def test_second_concurrent_stream_refused(spark, tmp_path):
    """Two maintain_* streams on one store would share a checkpoint and
    corrupt it — the _STREAM_LOCK refuses the second while the holder
    pid is alive, and a STALE lock (crashed holder) is reclaimed."""
    from tez_spark.streaming.ingest import (
        _acquire_stream_lock,
        _release_stream_lock,
        maintain_decontaminate,
    )

    store = str(tmp_path / "store")
    lock = _acquire_stream_lock(store)  # this process: a live holder
    # fake a DIFFERENT live holder: pid 1 is always alive
    with open(lock, "w") as f:
        f.write("1\n")
    doc = " ".join(f"second_a{i:03d}" for i in range(24))
    stream_dir = str(tmp_path / "s")
    _write_doc_batches(spark, stream_dir, [[(9_710_001, doc)]])
    with pytest.raises(ValueError, match="live"):
        maintain_decontaminate(
            spark, SF_DIR, store, stream_dir, lambda i, b: None
        )
    # stale lock: a pid that cannot exist is reclaimed, the run proceeds
    with open(lock, "w") as f:
        f.write("999999999\n")
    got: list[int] = []
    maintain_decontaminate(
        spark, SF_DIR, store, stream_dir,
        lambda inc, bid: got.append(bid),
    )
    assert got == [0]
    _release_stream_lock(lock)


@pytest.mark.parametrize(
    "maintain, tables, n_batches, compact_every",
    [
        ("maintain_decontaminate", ("grams",), 20, 4),
        ("maintain_exactsubstr", ("gramfreq",), 6, 2),
        ("maintain_dedup", ("shingles", "bands"), 6, 2),
    ],
    ids=["maintain_decontaminate", "maintain_exactsubstr", "maintain_dedup"],
)
def test_long_ingest_auto_compaction_bounds_store(
    spark, tmp_path, maintain, tables, n_batches, compact_every
):
    """VERDICT r15 item 2b end-to-end: an ingest with compact_every set
    reports value-identically to an uncompacted twin while each store
    table's delta-subdir count stays bounded by the policy (the
    uncompacted twin's grows linearly with batch count) — the
    operational property that keeps a year-long streaming ingest's
    per-trigger store read O(compact_every) instead of O(batches). From
    batch 3 on, each batch also repeats the doc of three batches
    earlier, whose prior-side state lives in a compacted seed by then:
    exactsubstr retro-reports its singleton witness through the
    gram-frequency fold, dedup pairs it through the folded shingle and
    band seeds."""
    from tez_spark.streaming import ingest

    batches = [
        [(9_720_000 + i, " ".join(f"auto_{i:02d}_w{j:03d}" for j in range(20)))]
        for i in range(n_batches)
    ]
    # make some batches share grams with the holdout corpus: append a
    # few real holdout docs' texts so increments are non-trivial
    for i, t in enumerate(_holdout_texts(spark, 6)):
        if 3 * i + 1 < n_batches:
            batches[3 * i + 1].append((9_730_000 + i, t))
    for i in range(3, n_batches):
        batches[i].append((9_740_000 + i, batches[i - 3][0][1]))

    s_auto, s_plain = str(tmp_path / "sa"), str(tmp_path / "sp")
    _write_doc_batches(spark, s_auto, batches)
    _write_doc_batches(spark, s_plain, batches)

    def run(store, stream_dir, compact_every):
        out: dict[int, list] = {}
        getattr(ingest, maintain)(
            spark, SF_DIR, str(store), stream_dir,
            lambda df, bid: out.update(
                {bid: sorted(_rounded(r) for r in df.collect())}
            ),
            compact_every=compact_every,
        )
        return out

    auto = run(tmp_path / "store_a", s_auto, compact_every)
    plain = run(tmp_path / "store_p", s_plain, None)
    assert len(auto) == n_batches
    assert auto == plain, "auto-compaction changed a report"
    assert any(auto[b] for b in range(3, n_batches)), "nothing reported after a fold"

    def n_batch_dirs(store, table):
        g = os.path.join(str(store), table)
        return sum(1 for d in os.listdir(g) if d.startswith("batch_"))

    for table in tables:
        assert n_batch_dirs(tmp_path / "store_p", table) == n_batches
        # bounded: at most compact_every uncompacted deltas + the kept one
        assert n_batch_dirs(tmp_path / "store_a", table) <= compact_every + 1, sorted(
            os.listdir(os.path.join(str(tmp_path / "store_a"), table))
        )

    # a restart over the compacted store resumes cleanly (no reseed, no
    # replay) — compaction left store + checkpoint + marker consistent
    replay = run(tmp_path / "store_a", s_auto, compact_every)
    assert replay == {}


def test_guard_refuses_lone_batch0_after_observed_commit(tmp_path):
    """ADVICE r15: the lone-batch_0 ambiguity. Without local metadata a
    store holding only batch_0 and no checkpoint commits could be a
    first-batch crash replay (allowed) OR a deleted checkpoint after
    commit 0 (data loss on restart). The store-side _LAST_COMMITTED
    marker — written when a later batch or restart OBSERVES commit 0 —
    disambiguates: marker present + empty checkpoint = refuse."""
    from tez_spark.streaming.ingest import (
        _guard_store_checkpoint,
        _note_committed,
    )

    store = tmp_path / "store"
    os.makedirs(store / "gramfreq" / "batch_0")
    # no marker: first-batch crash replay — allowed
    _guard_store_checkpoint(str(store), str(store / "gramfreq"))
    # commit 0 was observed at some point, checkpoint now empty: refuse
    _note_committed(str(store), 0)
    with pytest.raises(ValueError, match="_LAST_COMMITTED"):
        _guard_store_checkpoint(str(store), str(store / "gramfreq"))
    # matching checkpoint restored: allowed again
    os.makedirs(store / "checkpoint" / "commits")
    (store / "checkpoint" / "commits" / "0").write_text("")
    _guard_store_checkpoint(str(store), str(store / "gramfreq"))
