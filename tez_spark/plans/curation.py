"""End-to-end training-data curation pass — the flagship composition.

One query that runs the whole curation pipeline a 100TB corpus needs:
per-document quality metrics + language ID + token counts (pure codegen
projections / one broadcast join), near-dup removal (drop the larger id
of every Jaccard>=0.8 pair), threshold filters, and a per-language
summary of the kept corpus.

Scale design: every stage is a declared plan over the same scan —
metrics are map-side, language ID is explode + broadcast join, dedup
pairs here use the exact shingle-intersection path (the DuckDB-checkable
truth; at 100TB swap `_pair_jaccard` for the MinHash-LSH candidate path
in operators/dedup.py — the drop/anti-join plumbing is identical), and
the final agg is one shuffle on pred_lang. No collects, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tez_spark.functions import text as X
from tez_spark.operators.core import bounded_sort, new_batch

QUALITY_MIN = 0.68
TOKENS_MIN = 30
JACCARD_MIN = 0.8


def _curation_summary(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of the curation pipeline: given the corpus and its
    near-dup pairs (da < db, j >= threshold already applied), drop the
    larger id of every pair, apply quality/length filters, and summarize
    the kept corpus per language. Deterministic keep-first-by-id drop —
    not transitive-minimal but order-free and engine-agnostic."""
    from tez_spark.functions.text_queries import langid_of, metrics_of

    metrics = metrics_of(docs).select("doc_id", "n_tokens", "quality")
    lang = langid_of(docs).select("doc_id", "pred_lang")
    drops = pairs.select(F.col("db").alias("doc_id")).distinct()
    kept = (
        metrics.join(lang, "doc_id")
        .join(drops, "doc_id", "left_anti")
        .filter(
            (F.col("quality") >= QUALITY_MIN) & (F.col("n_tokens") >= TOKENS_MIN)
        )
    )
    out = kept.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
    return bounded_sort(out, "pred_lang")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-corpus summary after quality/length filters and near-dup
    removal: (pred_lang, n_docs, sum_tokens, avg_quality). Near-dup
    pairs from the EXACT all-pairs shingle join — the DuckDB-checkable
    truth; q_curation_pipeline_lsh is the scale-path twin."""
    from tez_spark.operators.dedup import _pair_jaccard, shingle_table
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(spark, sf_dir)
    pairs = _pair_jaccard(sh).filter(F.col("j") >= JACCARD_MIN)
    return _curation_summary(docs, pairs)


def q_curation_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100TB-path twin of q_curation_pipeline: near-dup pairs come from
    MinHash-LSH candidate generation + exact verification instead of the
    quadratic all-pairs shingle join — candidate-bounded work end to end
    (see operators/dedup.py for the band/bucket scale analysis).

    Declared against the SAME exact oracle: verification computes exact
    Jaccard on candidates, and with 32x4 banding the per-pair miss
    probability at the 0.8 threshold is ~5e-8, so the outputs are
    identical on any real corpus. This is the query a user actually runs
    at scale; the exact twin is the audit path.

    The shingle table AND the LSH candidate table are session-memoized
    shared artifacts (operators/dedup.shingle_table /
    lsh_candidate_table): this query and dedup_minhash_lsh run the
    identical candidate pipeline, so in a registry run the second
    consumer reads the persisted tables instead of re-shingling and
    re-hashing the corpus (the r4 bench showed the duplicated build
    dominating this query's 5.3s)."""
    from tez_spark.operators.dedup import (
        _verify_pairs,
        lsh_candidate_table,
        shingle_table,
    )
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(spark, sf_dir)
    cand = lsh_candidate_table(spark, sf_dir)
    pairs = _verify_pairs(cand, sh).filter(F.col("j") >= JACCARD_MIN)
    return _curation_summary(docs, pairs)


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/holdout split by content-independent
    hash bucket: split(doc) = md5(doc_id) hex prefix < 'e6' (230/256 ≈
    89.8% train).

    This is the reproducible-split primitive a training pipeline needs:
    membership is a pure function of the id — stable across runs,
    partitionings, cluster sizes, and engines (randomSplit is NOT: it
    samples per-partition and reshuffling reassigns rows). Map-side only;
    the summary agg is the single shuffle."""
    from tez_spark.functions.text import tokens
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = (
        docs.select(
            F.when(~new_batch("doc_id"), "train")
            .otherwise("holdout")
            .alias("split"),
            F.size(tokens("text")).cast("long").alias("_n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tokens").alias("sum_tokens"),
        )
    )
    return bounded_sort(out, "split")


SOURCE_CAP = 50  # max docs kept per source (quality-ranked)


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the mix-balancing primitive that stops
    one crawl/provider from dominating the training mix: keep at most
    SOURCE_CAP docs per source, ranked by quality (ties broken by doc_id
    so the cut is fully deterministic), and report kept counts/tokens
    per source.

    Plan: metrics are the shared map-side core; the rank is one window
    per source partition (never a global sort — sources rank
    independently and in parallel at 100TB); summary is one agg on
    source."""
    from pyspark.sql import Window

    from tez_spark.functions.text_queries import metrics_of
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    m = metrics_of(docs).select("doc_id", "n_tokens", "quality")
    j = docs.select("doc_id", "source").join(m, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ranked = j.withColumn("_rn", F.row_number().over(w))
    kept = F.col("_rn") <= SOURCE_CAP
    out = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        F.round(F.min(F.when(kept, F.col("quality"))), 6).alias("min_kept_quality"),
    )
    return bounded_sort(out, "source")


def _source_cap_sql() -> str:
    from tez_spark.functions.text import STOPWORDS

    stop_sql = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH base AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks,
               text
        FROM documents
    ), metrics AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) / length(text)
                    ELSE 0.0 END AS alpha_r,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> t IN ({stop_sql}))) / len(toks)
                    ELSE 0.0 END AS stop_r,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, t -> length(t))) / len(toks)
                    ELSE 0.0 END AS avg_tok_len
        FROM base
    ), quality AS (
        SELECT doc_id, source, n_tokens,
               least(stop_r * 4.0, 1.0) * 0.4 + alpha_r * 0.4 +
               CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 THEN 0.2 ELSE 0.0 END
                   AS quality
        FROM metrics
    ), ranked AS (
        SELECT source, n_tokens, quality,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM quality
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens,
           round(MIN(CASE WHEN rn <= {SOURCE_CAP} THEN quality END), 6)
               AS min_kept_quality
    FROM ranked GROUP BY 1 ORDER BY 1
"""


PACK_BUDGET = 512  # tokens per packed training sequence
CHUNK_SIZE = 64    # tokens per model-context chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget bins for
    training-batch construction (pack short docs together so each training
    sequence is ~full). Deterministic contiguous-fill packing: within each
    source, docs ordered by doc_id fill bins of PACK_BUDGET tokens; a doc
    belongs to the bin where its cumulative span starts.

    Scale design: packing is PER SOURCE (window partitioned by source),
    never a global sort — at 100TB each source/shard packs independently
    and in parallel, which is how packing is actually deployed (per input
    shard). One window sort per source partition + one shuffle for the
    summary agg; token counting is map-side codegen."""
    from pyspark.sql import Window

    from tez_spark.functions.text import tokens
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = t.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)).cast("long"),
    )
    out = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(PACK_BUDGET)), 6).alias("fill"),
    )
    return out.orderBy("source", "bin")


_SEQ_PACK_SQL = f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT source, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT source, CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           round(SUM(n_tokens) / {float(PACK_BUDGET)}, 6) AS fill
    FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep ~25% of each source's docs
    by content-independent hash (md5 of 'source:doc_id' hex prefix <
    '40' = 64/256). The mix-rebalancing primitive: membership is a pure
    function of (source, id) — stable across runs, partitionings and
    engines, unlike sample()/randomSplit which are partition-dependent.
    Map-side predicate + one summary shuffle."""
    from tez_spark.functions.text import tokens
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.encode(
            F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string")),
            "UTF-8",
        )
    )
    keep = (F.substring(h, 1, 2) < "40").cast("long")
    out = (
        docs.select(
            "source",
            keep.alias("keep"),
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_sampled"),
            F.sum(F.col("keep") * F.col("n_tokens")).alias("sampled_tokens"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 6).alias("sample_rate"),
        )
    )
    return bounded_sort(out, "source")


_STRATIFIED_SAMPLE_SQL = """
    WITH t AS (
        SELECT source,
               CASE WHEN substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 2)
                         < '40' THEN 1 ELSE 0 END AS keep,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_sampled,
           CAST(SUM(keep * n_tokens) AS BIGINT) AS sampled_tokens,
           round(SUM(keep) / COUNT(*), 6) AS sample_rate
    FROM t GROUP BY 1 ORDER BY 1
"""


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into CHUNK_SIZE-token
    windows advancing by CHUNK_STRIDE (16-token overlap) — the
    RAG/pretraining chunker. Number of chunks covers every token:
    1 if n <= size else floor((n - size + stride - 1)/stride) + 1.

    Scale design: pure map-side explode (sequence + slice, all codegen);
    output size is input tokens × (size/stride) — no shuffle at all until
    a downstream consumer aggregates. Emits a per-chunk md5 so chunk
    identity is checkable without shipping text."""
    from tez_spark.functions.text import tokens
    from tez_spark.sources.catalog import load_table

    c, s = CHUNK_SIZE, CHUNK_STRIDE
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id", "_toks", F.size("_toks").alias("n")
    )
    n_chunks = F.when(
        F.col("n") <= c, F.lit(1)
    ).otherwise(F.floor((F.col("n") - c + (s - 1)) / F.lit(s)).cast("int") + 1)
    exploded = t.select(
        "doc_id", "_toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i")
    )
    chunk = F.slice(F.col("_toks"), F.col("i") * s + 1, c)
    out = exploded.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
    )
    return out.orderBy("doc_id", "chunk_id")


_DOC_CHUNK_SQL = f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), n AS (
        SELECT doc_id, toks, len(toks) AS n FROM base
    ), nc AS (
        SELECT doc_id, toks,
               CASE WHEN n <= {CHUNK_SIZE} THEN 1
                    ELSE (n - {CHUNK_SIZE} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE} + 1
               END AS n_chunks
        FROM n
    ), ch AS (
        SELECT doc_id, toks, unnest(range(n_chunks)) AS i FROM nc
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                               i * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                                          i * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
               AS chunk_hash
    FROM ch ORDER BY doc_id, chunk_id
"""


def q_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-decile curriculum assignment: ntile(10) over token count
    (ties broken by doc_id — fully deterministic ordering) within each
    source, summarized per (source, decile). The batching primitive for
    length-based curriculum schedules / bucketed batching: same-decile
    docs pad to similar lengths. Per-source windows (one shuffle on
    source, never a global sort) + the summary agg."""
    from pyspark.sql import Window

    from tez_spark.functions.text import tokens
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    out = (
        t.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )
    return bounded_sort(out, "source", "decile")


_LENGTH_CURRICULUM_SQL = """
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    ), d AS (
        SELECT source, n_tokens,
               CAST(NTILE(10) OVER (PARTITION BY source
                                    ORDER BY n_tokens, doc_id) AS BIGINT)
                   AS decile
        FROM t
    )
    SELECT source, decile, COUNT(*) AS n_docs,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout decontamination report: holdout documents that are
    near-duplicates (Jaccard >= 0.8) of ANY train document, per source —
    the eval-set contamination check every LLM training pipeline runs
    before trusting its holdout numbers.

    Engine path mirrors dedup_winnow: winnowing-fingerprint candidates
    (>= 2 shared fps, train x holdout only — the cross join never touches
    train x train or holdout x holdout) + exact Jaccard verification.
    Declared against the exact all-cross-pairs oracle; the same recall
    argument as dedup_winnow applies (asserted at every SF). Scale: the
    candidate join is fp-bucketed, verification candidate-bounded, and
    the final report one shuffle on source."""
    from tez_spark.operators.core import tracked_persist
    from tez_spark.operators.dedup import _verify_pairs, shingle_table, winnow_table
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = F.when(~new_batch("doc_id"), "train").otherwise("holdout")
    tagged = docs.select("doc_id", "source", split.alias("split"))
    # winnow fingerprints are the shared artifact; the split tag join is
    # per-query (it is a map-side hash on doc_id).
    fps = tracked_persist(
        winnow_table(spark, sf_dir).join(tagged.select("doc_id", "split"), "doc_id")
    )
    tr = fps.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("da"), "fp"
    )
    ho = fps.filter(F.col("split") == "holdout").select(
        F.col("doc_id").alias("db"), "fp"
    )
    cand = tracked_persist(
        tr.join(ho, "fp")
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("da", "db")
    )
    sh = shingle_table(spark, sf_dir)
    pairs = _verify_pairs(cand, sh).filter(F.col("j") >= JACCARD_MIN)
    contaminated = (
        pairs.select(F.col("db").alias("doc_id")).distinct().withColumn("c", F.lit(1))
    )
    hold = tagged.filter(F.col("split") == "holdout")
    flagged = F.coalesce(F.col("c"), F.lit(0))
    out = (
        hold.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_holdout"),
            F.sum(flagged).alias("n_contaminated"),
            F.round(F.sum(flagged) / F.count(F.lit(1)), 6).alias(
                "contamination_rate"
            ),
        )
    )
    return bounded_sort(out, "source")


_DECONTAMINATE_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'train' ELSE 'holdout' END AS split
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS sh
        FROM base, unnest(range(len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), tr AS (
        SELECT s.doc_id, s.sh FROM sh s JOIN base b ON s.doc_id = b.doc_id
        WHERE b.split = 'train'
    ), ho AS (
        SELECT s.doc_id, s.sh FROM sh s JOIN base b ON s.doc_id = b.doc_id
        WHERE b.split = 'holdout'
    ), inter AS (
        SELECT t.doc_id AS da, h.doc_id AS db, count(*) AS i
        FROM tr t JOIN ho h ON t.sh = h.sh GROUP BY 1, 2
    ), contaminated AS (
        SELECT DISTINCT db AS doc_id
        FROM inter JOIN sizes sa ON da = sa.doc_id
                   JOIN sizes sb ON db = sb.doc_id
        WHERE i / (sa.n + sb.n - i) >= {JACCARD_MIN}
    )
    SELECT b.source, COUNT(*) AS n_holdout,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS contamination_rate
    FROM base b LEFT JOIN contaminated c ON b.doc_id = c.doc_id
    WHERE b.split = 'holdout'
    GROUP BY 1 ORDER BY 1
"""


_TRAIN_SPLIT_SQL = """
    SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train' ELSE 'holdout' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT)
               AS sum_tokens
    FROM documents GROUP BY 1 ORDER BY 1
"""


def _oracle_sql() -> str:
    from tez_spark.functions.text import STOPWORDS
    from tez_spark.functions.text_queries import _markers_values_sql

    stop_sql = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks,
               text
        FROM documents
    ), metrics AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) / length(text)
                    ELSE 0.0 END AS alpha_r,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, t -> t IN ({stop_sql}))) / len(toks)
                    ELSE 0.0 END AS stop_r,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, t -> length(t))) / len(toks)
                    ELSE 0.0 END AS avg_tok_len
        FROM base
    ), quality AS (
        SELECT doc_id, n_tokens,
               least(stop_r * 4.0, 1.0) * 0.4 + alpha_r * 0.4 +
               CASE WHEN avg_tok_len >= 3 AND avg_tok_len <= 10 THEN 0.2 ELSE 0.0 END
                   AS quality
        FROM metrics
    ), words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), hits AS (
        SELECT w.doc_id, m.pred_lang, COUNT(*) AS hits
        FROM words w JOIN {_markers_values_sql()} ON w.word = m.word
        GROUP BY 1, 2
    ), lang AS (
        SELECT d.doc_id, COALESCE(b.pred_lang, 'und') AS pred_lang
        FROM documents d LEFT JOIN (
            SELECT doc_id, pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, pred_lang) AS rn
            FROM hits) b
          ON d.doc_id = b.doc_id AND b.rn = 1
    ), sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i + 1, i + 3), ' ') AS sh
        FROM base, unnest(range(len(toks) - 2)) AS u(i)
        WHERE len(toks) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), drops AS (
        SELECT DISTINCT db AS doc_id
        FROM inter JOIN sizes sa ON da = sa.doc_id
                   JOIN sizes sb ON db = sb.doc_id
        WHERE i / (sa.n + sb.n - i) >= {JACCARD_MIN}
    ), kept AS (
        SELECT q.doc_id, q.n_tokens, q.quality, l.pred_lang
        FROM quality q
        JOIN lang l ON q.doc_id = l.doc_id
        WHERE q.doc_id NOT IN (SELECT doc_id FROM drops)
          AND q.quality >= {QUALITY_MIN}
          AND q.n_tokens >= {TOKENS_MIN}
    )
    SELECT pred_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           round(AVG(quality), 6) AS avg_quality
    FROM kept GROUP BY 1 ORDER BY 1
    """


MIX_ALPHA = 0.5
MIX_BUDGET = 100_000


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source sampling allocation — the mix-weighting
    primitive of multilingual/multi-source pretraining (sample source i
    with probability ∝ p_i^α, α=0.5: upweights small sources relative to
    their raw token share, the standard smoothing used since mBERT/XLM-R;
    complements source_cap, which bounds a source AFTER weights decide
    the mix). Reports per source: docs, tokens, raw token share, the
    α-tempered sampling weight w_i = tokens_i^α / Σ_j tokens_j^α (the
    tot^α normalization cancels), and the expected document allocation
    for a MIX_BUDGET-doc sample.

    Plan: one map-side token count + one shuffle on source; the
    normalization runs over the per-source summary (rows = #sources, a
    broadcast-sized table at any corpus scale — a window with no
    partition key is fine HERE and only here, and Catalyst plans it as a
    single-partition exchange of #sources rows, not of data). Weights
    rounded 6dp on both engines before the allocation product so the
    float pow/round agree."""
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("long").alias("sum_tokens"),
    )
    from pyspark.sql import Window

    w_all = Window.partitionBy()  # #sources rows — see docstring
    tempered = F.pow(F.col("sum_tokens").cast("double"), F.lit(MIX_ALPHA))
    out = (
        per_src.withColumn("_tot", F.sum("sum_tokens").over(w_all))
        .withColumn("_z", F.sum(tempered).over(w_all))
        .select(
            "source",
            "n_docs",
            "sum_tokens",
            F.round(F.col("sum_tokens") / F.col("_tot"), 6).alias("token_share"),
            F.round(tempered / F.col("_z"), 6).alias("mix_weight"),
            F.round(F.round(tempered / F.col("_z"), 6) * MIX_BUDGET)
            .cast("long")
            .alias("alloc_docs"),
        )
    )
    return bounded_sort(out, "source")


_SOURCE_MIX_SQL = f"""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> '')))
                    AS BIGINT) AS sum_tokens
        FROM documents GROUP BY 1
    ), t AS (
        SELECT SUM(sum_tokens) AS tot,
               SUM(POW(CAST(sum_tokens AS DOUBLE), {MIX_ALPHA})) AS z
        FROM s
    )
    SELECT source, n_docs, sum_tokens,
           round(sum_tokens / tot, 6) AS token_share,
           round(POW(CAST(sum_tokens AS DOUBLE), {MIX_ALPHA}) / z, 6) AS mix_weight,
           CAST(round(round(POW(CAST(sum_tokens AS DOUBLE), {MIX_ALPHA}) / z, 6)
                      * {MIX_BUDGET}) AS BIGINT) AS alloc_docs
    FROM s, t ORDER BY source
"""


# --- weighted sampling without replacement (Efraimidis-Spirakis) ----------

# Multiplicative hash over the Mersenne prime 2^31-1 (Knuth constant):
# pure BIGINT arithmetic, so BOTH engines compute bit-identical u. The
# max doc_id * constant product stays < 2^62 (ANSI-safe) up to ~3.4e9 ids.
WS_P = (1 << 31) - 1
WS_A = 2654435761
WS_K = 100


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement: the top-WS_K documents by
    the Efraimidis-Spirakis exponential key ln(u)/w (equivalent to
    u^(1/w); w = n_chars, u deterministic per doc) — the standard
    one-pass distributed weighted sampler (Efraimidis & Spirakis, IPL
    2006): every executor keeps a partial top-k, the driver merges k-row
    heaps, and no global shuffle of the corpus ever happens (Spark plans
    orderBy+limit as TakeOrderedAndProject). Complements the fixed-rate
    samplers here (stratified_sample: per-source rate; source_mix:
    temperature allocation) with importance sampling: P(doc in sample)
    rises with its weight, sampling is exact without replacement, and
    the whole draw is reproducible across runs, partitionings and
    engines because u comes from integer arithmetic, not a PRNG stream.

    Cross-engine determinism: u = (doc_id*A mod P + 0.5)/P in (0,1) is
    bit-identical BIGINT/double math in Spark and DuckDB; ln() may
    differ in the last ulp between libms, but the output exposes only
    the RANK ORDER (rank, doc_id, weight) — adjacent key gaps across a
    corpus are ~1e-3, so an ulp can never flip the order or the top-k
    boundary. The raw float key is deliberately not an output column.

    Reference tie: partitioned top-k merge is the §2.3 global-sort/
    top-k pattern (q13/q14) with a computed sort key; the weighted-
    sampling semantics are new capability."""
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    u = (F.pmod(F.col("doc_id") * F.lit(WS_A), F.lit(WS_P)) + F.lit(0.5)) / F.lit(
        float(WS_P)
    )
    w = F.greatest(F.col("n_chars"), F.lit(1))
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (F.log(u) / w).alias("_key"),
    )
    top = keyed.orderBy(F.desc("_key"), "doc_id").limit(WS_K)
    # rank the bounded k-row result (window over <= WS_K rows)
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.desc("_key"), "doc_id"))
    out = top.select(rk.cast("long").alias("rk"), "doc_id", "weight")
    return bounded_sort(out, "rk")


_WEIGHTED_SAMPLE_SQL = f"""
    WITH k AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS weight,
               ln(((doc_id * {WS_A}) % {WS_P} + 0.5) / {float(WS_P)})
                   / greatest(n_chars, 1) AS key
        FROM documents
    )
    SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rk,
           doc_id, weight
    FROM k
    ORDER BY key DESC, doc_id
    LIMIT {WS_K}
"""


DECONTAM_NGRAM_L = 13  # the exact-substring standard (GPT-3 App. C /
# Llama filtering use verbatim 13-gram overlap as the contamination test)


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim n-gram decontamination (r11) — the industry-standard
    exact-substring method (13-token verbatim overlap, the GPT-3
    Appendix-C / Llama eval-filtering rule), complementing
    q_decontaminate's fuzzy winnow+Jaccard check: per HOLDOUT document,
    how many of its 13-gram windows appear verbatim ANYWHERE in the
    train split, and the drop/keep flag. The per-doc report is the
    actionable artifact (which eval docs to exclude); q_decontaminate's
    per-source rates answer a different question (is my holdout
    trustworthy at all).

    Plan: one gram explode per side (the text_dup_spans codegen shape —
    grams travel as 16-hex md5 prefixes, 8x smaller than the raw
    13-token strings), the train side collapsed to a DISTINCT gram set,
    one gram-keyed LEFT join marking shared holdout gram instances, one
    per-doc aggregation. Scale: everything is gram-hash-keyed — no
    pairwise document product exists anywhere; the join's exchange is
    bounded by gram vocabulary, the same class as text_dup_spans'
    frequency exchange. A 64-bit prefix collision needs ~2^32 distinct
    grams per false shared window (same argument as text_dup_spans)."""
    from tez_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = X.token_grams(
        docs.select("doc_id", new_batch("doc_id").alias("is_hold"), "text"),
        DECONTAM_NGRAM_L,
        "doc_id",
        "is_hold",
    )
    train_g = (
        grams.filter(~F.col("is_hold")).select("g").distinct()
        .withColumn("_m", F.lit(1))
    )
    marked = grams.filter(F.col("is_hold")).join(train_g, "g", "left")
    out = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("n_shared_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared_grams",
            (F.col("n_shared_grams") > 0).alias("contaminated"),
        )
    )
    # per-HOLDOUT-doc report — holdout scales with the corpus, so keep
    # the parallel range sort, not bounded_sort's single-partition
    # funnel (r13, the decontaminate_chars convention)
    return out.orderBy("doc_id")


def q_decontaminate_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level verbatim decontamination (r13) — completes the
    granularity ladder: q_decontaminate (fuzzy winnow+Jaccard) →
    q_decontaminate_ngram (13-TOKEN verbatim, the GPT-3 App-C rule) →
    this (50-CHAR verbatim, the Lee et al. ACL 2022 ExactSubstr
    granularity a suffix-array dedup operates at). Token windows cannot
    see sub-token or whitespace-normalization-resistant overlaps — a
    benchmark answer pasted into training text with different spacing
    or punctuation-glued tokens evades a 13-token match but not a
    50-char one. Per HOLDOUT document (same deterministic md5(doc_id)
    split as the other decontaminate queries): how many of its 50-char
    windows appear verbatim ANYWHERE in the train split, and the
    drop/keep flag. Docs shorter than 50 chars carry no window and are
    absent, as in the ngram report.

    Plan — the exactsubstr_chars shape (agg → SMALL filtered gram set →
    semi probe), not decontaminate_ngram's distinct-the-train-side:
    the char_gram_plan instance stream (r14 "dupset" posture: a pure
    map-side codegen explode recomputed per consumer — the agg side
    reads the full corpus's windows, the probe side only HOLDOUT docs'
    because the is_hold predicate derives from doc_id and pushes below
    the explode; zero persisted instance rows, see
    PERF.md r14 — grams are query-internal xxhash64,
    never reaching output; the oracle keeps its own md5 formulation of
    the same truth), the split flag derived map-side from doc_id, then ONE
    partial-agg'd per-gram aggregation of the two split-presence flags.
    Filtering to grams present in BOTH splits yields the set of
    actually-CONTAMINATED grams — small the way exactsubstr's dup-gram
    set is small (bounded by the holdout's shared content, not by the
    train vocabulary), so the left-semi probe of holdout instances
    broadcasts a small relation or SMJs with an AQE-skew-splittable
    probe. The first cut distinct-ed the full TRAIN gram vocabulary
    instead (~1.15M grams at sf0.1): AQE saw ~9 MB and broadcast it,
    and the driver-side million-entry hash-relation build measured
    3.1 s vs this shape's ~0.4 s — and at 100TB a train-vocabulary
    broadcast is unboundable while the both-splits set stays
    eval-content-sized. One LEFT join of holdout instances against the
    small flagged set, one per-doc aggregation computing both counts in
    a single pass. The report is HOLDOUT-scaled, so it keeps the
    parallel range sort (orderBy), not bounded_sort's single-partition
    funnel. Same 64-bit collision margin as the gram family."""
    from tez_spark.functions.text_queries import char_gram_plan

    grams = char_gram_plan(spark, sf_dir).select("doc_id", "g")
    grams = grams.withColumn("is_hold", new_batch("doc_id"))
    shared_g = (
        grams.groupBy("g")
        .agg(
            F.max(F.col("is_hold").cast("int")).alias("_h"),
            F.max((~F.col("is_hold")).cast("int")).alias("_t"),
        )
        .filter((F.col("_h") == 1) & (F.col("_t") == 1))
        .select("g")
    )
    marked = grams.filter(F.col("is_hold")).join(
        shared_g.withColumn("_m", F.lit(1)), "g", "left"
    )
    out = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias(
                "n_shared_windows"
            ),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared_windows",
            (F.col("n_shared_windows") > 0).alias("contaminated"),
        )
    )
    # holdout-doc-scaled report: parallel range sort, never repartition(1)
    return out.orderBy("doc_id")


def _decontaminate_chars_sql() -> str:
    from tez_spark.functions.text_queries import CHAR_SPAN_L

    return f"""
    WITH base AS (
        SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_hold,
               text
        FROM documents WHERE length(text) >= {CHAR_SPAN_L}
    ), grams AS (
        SELECT doc_id, is_hold,
               substring(md5(substring(
                   text, CAST(i + 1 AS INT), {CHAR_SPAN_L})), 1, 16) AS g
        FROM base, unnest(range(length(text) - {CHAR_SPAN_L - 1})) AS u(i)
    ), tg AS (
        SELECT DISTINCT g FROM grams WHERE NOT is_hold
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_windows,
           SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) > 0
               AS contaminated
    FROM grams gr LEFT JOIN tg ON gr.g = tg.g
    WHERE gr.is_hold
    GROUP BY gr.doc_id
    ORDER BY gr.doc_id
"""


_DECONTAMINATE_NGRAM_SQL = f"""
    WITH base AS (
        SELECT doc_id,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6' AS is_hold,
               list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents
    ), grams AS (
        SELECT doc_id, is_hold,
               substring(md5(array_to_string(
                   list_slice(toks, i + 1, i + {DECONTAM_NGRAM_L}), ' ')),
                   1, 16) AS g
        FROM base, unnest(range(len(toks) - {DECONTAM_NGRAM_L - 1})) AS u(i)
        WHERE len(toks) >= {DECONTAM_NGRAM_L}
    ), tg AS (
        SELECT DISTINCT g FROM grams WHERE NOT is_hold
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_grams,
           SUM(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) > 0
               AS contaminated
    FROM grams gr LEFT JOIN tg ON gr.g = tg.g
    WHERE gr.is_hold
    GROUP BY gr.doc_id
    ORDER BY gr.doc_id
"""


QUERIES = {
    "source_mix": q_source_mix,
    "weighted_sample": q_weighted_sample,
    "curation_pipeline": q_curation_pipeline,
    "curation_pipeline_lsh": q_curation_pipeline_lsh,
    "train_split": q_train_split,
    "seq_pack": q_seq_pack,
    "stratified_sample": q_stratified_sample,
    "doc_chunk": q_doc_chunk,
    "decontaminate": q_decontaminate,
    "decontaminate_ngram": q_decontaminate_ngram,
    "decontaminate_chars": q_decontaminate_chars,
    "length_curriculum": q_length_curriculum,
    "source_cap": q_source_cap,
}
ORACLE = {
    "source_mix": _SOURCE_MIX_SQL,
    "weighted_sample": _WEIGHTED_SAMPLE_SQL,
    "source_cap": _source_cap_sql(),
    "curation_pipeline": _oracle_sql(),
    # the LSH twin verifies exactly on candidates; same oracle (see
    # q_curation_pipeline_lsh docstring for the ~5e-8 miss bound).
    "curation_pipeline_lsh": _oracle_sql(),
    "train_split": _TRAIN_SPLIT_SQL,
    "seq_pack": _SEQ_PACK_SQL,
    "stratified_sample": _STRATIFIED_SAMPLE_SQL,
    "doc_chunk": _DOC_CHUNK_SQL,
    "decontaminate": _DECONTAMINATE_SQL,
    "decontaminate_ngram": _DECONTAMINATE_NGRAM_SQL,
    "decontaminate_chars": _decontaminate_chars_sql(),
    "length_curriculum": _LENGTH_CURRICULUM_SQL,
}
