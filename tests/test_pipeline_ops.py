"""Reference-implementation twins for the round-4 training-pipeline
operators (seq_pack / doc_chunk / stratified_sample / embedding_quantize):
each Spark plan is compared against a plain-Python recomputation on a
generated corpus, plus a partitioning-invariance check (the driver's
DuckDB oracle already covers the fixtures; these pin the SEMANTICS on
adversarial shapes — empty docs, exact-boundary lengths, single-token
bins — that the fixtures may not contain)."""

from __future__ import annotations

import hashlib
import math
import os
import random


def _docs(seed: int, n: int = 40):
    """(doc_id, source, text) with adversarial token counts: empties,
    exactly-CHUNK_SIZE docs, boundary-straddling lengths."""
    from tez_spark.plans.curation import CHUNK_SIZE, CHUNK_STRIDE

    rng = random.Random(seed)
    vocab = [f"w{i:02d}" for i in range(60)]
    special = [0, 1, CHUNK_SIZE - 1, CHUNK_SIZE, CHUNK_SIZE + 1,
               CHUNK_SIZE + CHUNK_STRIDE, CHUNK_SIZE + CHUNK_STRIDE + 1]
    rows = []
    for i in range(n):
        k = special[i] if i < len(special) else rng.randrange(0, 200)
        text = " ".join(rng.choice(vocab) for _ in range(k))
        rows.append((i, f"src{i % 3}", text))
    return rows


def _toks(text: str) -> list[str]:
    return [t for t in text.split(" ") if t != ""]


def test_seq_pack_matches_reference(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from tez_spark.plans.curation import PACK_BUDGET
    from tez_spark.functions.text import tokens

    rows = _docs(7)
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    # engine plan (same shape as q_seq_pack, parameterized over this df)
    t = df.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        (r.source, r.bin): (r.n_docs, r.sum_tokens)
        for r in t.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)).cast(
                "long"
            ),
        )
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("sum_tokens"))
        .collect()
    }

    # reference: contiguous fill per source in doc_id order
    expect: dict[tuple[str, int], list[int]] = {}
    by_source: dict[str, list[tuple[int, int]]] = {}
    for doc_id, source, text in rows:
        by_source.setdefault(source, []).append((doc_id, len(_toks(text))))
    for source, docs in by_source.items():
        cum = 0
        for _, n in sorted(docs):
            b = cum // PACK_BUDGET
            cum += n
            k = (source, b)
            if k not in expect:
                expect[k] = [0, 0]
            expect[k][0] += 1
            expect[k][1] += n
    assert got == {k: tuple(v) for k, v in expect.items()}

    # invariant: a doc lands in the bin its cumulative span STARTS in,
    # so each source's bins are contiguous from 0
    for source in by_source:
        bins = sorted(b for (s, b) in got if s == source)
        assert bins == list(range(len(bins)))


def test_doc_chunk_matches_reference(spark):
    from pyspark.sql import functions as F

    from tez_spark.plans.curation import CHUNK_SIZE, CHUNK_STRIDE

    rows = _docs(11)
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    from tez_spark.functions.text import tokens

    c, s = CHUNK_SIZE, CHUNK_STRIDE
    t = df.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id", "_toks", F.size("_toks").alias("n")
    )
    n_chunks = F.when(F.col("n") <= c, F.lit(1)).otherwise(
        F.floor((F.col("n") - c + (s - 1)) / F.lit(s)).cast("int") + 1
    )
    exploded = t.select(
        "doc_id", "_toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i")
    )
    chunk = F.slice(F.col("_toks"), F.col("i") * s + 1, c)
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunk_tokens, r.chunk_hash)
        for r in exploded.select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_hash"),
        ).collect()
    }

    expect = {}
    for doc_id, _, text in rows:
        toks = _toks(text)
        n = len(toks)
        nc = 1 if n <= c else (n - c + s - 1) // s + 1
        for i in range(nc):
            piece = toks[i * s : i * s + c]
            expect[(doc_id, i)] = (
                len(piece),
                hashlib.md5(" ".join(piece).encode()).hexdigest(),
            )
    assert got == expect

    # coverage: the final chunk of every doc reaches the last token
    for doc_id, _, text in rows:
        n = len(_toks(text))
        nc = 1 if n <= c else (n - c + s - 1) // s + 1
        assert (nc - 1) * s + c >= n


def test_stratified_sample_membership_is_pure_and_partition_invariant(spark):
    from pyspark.sql import functions as F

    rows = _docs(23)
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    h = F.md5(
        F.encode(
            F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string")),
            "UTF-8",
        )
    )
    keep_col = (F.substring(h, 1, 2) < "40").cast("long")

    def kept_ids(frame):
        return {
            r.doc_id
            for r in frame.select("doc_id", keep_col.alias("k"))
            .filter(F.col("k") == 1)
            .collect()
        }

    got = kept_ids(df)
    expect = {
        doc_id
        for doc_id, source, _ in rows
        if hashlib.md5(f"{source}:{doc_id}".encode()).hexdigest()[:2] < "40"
    }
    assert got == expect
    # membership survives any physical repartitioning (randomSplit does not)
    assert kept_ids(df.repartition(7)) == expect
    assert kept_ids(df.repartition(1)) == expect


def test_embedding_quantize_matches_reference(spark):
    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [
        (i, f"lab{i % 2}", [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(20)
    ] + [(99, "lab0", [0.0] * 16)]  # zero vector: scale 0, mse defined as 0
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")

    e = F.col("embedding")
    q = df.select(
        "vec_id",
        "label",
        e.alias("e"),
        (F.array_max(F.transform(e, lambda x: F.abs(x))) / 127.0).alias("scale"),
    )
    scale = F.col("scale")
    sq_err = F.aggregate(
        F.col("e"),
        F.lit(0.0),
        lambda acc, x: acc + F.pow(x - F.floor(x / scale + 0.5) * scale, F.lit(2.0)),
    )
    got = {
        r.vec_id: (r.scale, r.mse)
        for r in q.select(
            "vec_id",
            "scale",
            F.when(scale > 0, sq_err / F.size("e")).otherwise(F.lit(0.0)).alias("mse"),
        ).collect()
    }

    for vec_id, _, vec in rows:
        sc = max(abs(x) for x in vec) / 127.0
        if sc > 0:
            mse = sum((x - math.floor(x / sc + 0.5) * sc) ** 2 for x in vec) / len(vec)
        else:
            mse = 0.0
        g_scale, g_mse = got[vec_id]
        assert abs(g_scale - sc) < 1e-12
        assert abs(g_mse - mse) < 1e-12
        # int8 contract: every quantized level fits in [-127, 127]
        if sc > 0:
            assert all(abs(math.floor(x / sc + 0.5)) <= 127 for x in vec)


def test_redact_pii_on_planted_pii(spark):
    """redact_pii replaces every planted email/IP/phone (and counts them
    on the original text), leaves clean text byte-identical, and agrees
    with an independent Python re reference on every row."""
    import re

    from tez_spark.functions.text_queries import PII_PATTERNS, redact_pii

    rows = [
        (0, "contact john.doe+spam@example.co.uk for details"),
        (1, "server at 10.0.255.3 and backup at 192.168.1.10"),
        (2, "call 555-867-5309 or 555 123 4567 today"),
        (3, "mixed: a@b.io on 8.8.8.8 dial 111.222.3333"),
        (4, "no pii here just words and spaces"),
        (5, ""),
        (6, "not-an-ip 1234.5.6.7890 stays; 1.2.3.4 goes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r._redacted, r.n_pii)
        for r in redact_pii(docs).select("doc_id", "_redacted", "n_pii").collect()
    }
    for doc_id, text in rows:
        expected = text
        n = 0
        for pat, token in PII_PATTERNS:
            n += len(re.findall(pat, text))
            expected = re.sub(pat, token, expected)
        assert got[doc_id] == (expected, n), (doc_id, got[doc_id], expected, n)
    # the planted rows actually exercise every pattern
    assert got[0][1] == 1 and "<EMAIL>" in got[0][0]
    assert got[1][1] == 2 and got[1][0].count("<IP>") == 2
    assert got[2][1] == 2 and got[2][0].count("<PHONE>") == 2
    assert got[3][1] == 3
    assert got[4] == ("no pii here just words and spaces", 0)


def test_text_dup_spans_planted_verbatim_duplication(spark, tmp_path):
    """Exact-substring semantics pinned on a planted corpus: a verbatim
    6-token span shared by two docs marks exactly its occurrences in
    BOTH docs; a within-doc repeat counts too; a fully unique doc
    reports zero."""
    import os

    from tez_spark.functions.text_queries import q_text_dup_spans

    docs = [
        # 0 and 1 share the verbatim 6-token span "a b c d e f"
        (0, "a b c d e f unique0 tail0 words here now"),
        (1, "prefix1 one a b c d e f closing1 two"),
        # 2 repeats its own 6-token span twice (within-doc duplication)
        (2, "x1 x2 x3 x4 x5 x6 mid x1 x2 x3 x4 x5 x6"),
        # 3 is fully unique
        (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
        # 4 too short to carry a 6-gram
        (4, "s1 s2 s3"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        os.path.join(sf, "documents.parquet")
    )
    got = {r.doc_id: r for r in q_text_dup_spans(spark, sf).collect()}
    assert 4 not in got  # below the gram floor, excluded by construction
    assert got[3].n_dup_grams == 0 and got[3].n_grams == 5
    # doc 0: 11 tokens -> 6 grams; exactly one (the shared span) is dup
    assert (got[0].n_grams, got[0].n_dup_grams) == (6, 1)
    # doc 1: 10 tokens -> 5 grams; the shared span is at offset 2
    assert (got[1].n_grams, got[1].n_dup_grams) == (5, 1)
    # doc 2: 13 tokens -> 8 grams; the repeated x1..x6 span appears at
    # offsets 0 and 7 -> both occurrences marked dup
    assert got[2].n_grams == 8 and got[2].n_dup_grams >= 2
    assert abs(got[0].dup_fraction - 1 / 6) < 1e-6


def test_weighted_sample_matches_python_reference(spark):
    """q_weighted_sample == a pure-Python recomputation of the
    Efraimidis-Spirakis draw over the fixture (independent of the DuckDB
    oracle): same integer-hash u, same ln(u)/w key, same top-k — and the
    heaviest documents are overrepresented vs their population share
    (the point of importance sampling)."""
    import math

    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR
    from tez_spark.plans.curation import WS_A, WS_K, WS_P, q_weighted_sample

    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "n_chars"])
    rows = list(zip(tbl["doc_id"].to_pylist(), tbl["n_chars"].to_pylist()))
    keyed = [
        (math.log(((i * WS_A) % WS_P + 0.5) / float(WS_P)) / max(w, 1), i, w)
        for i, w in rows
    ]
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = [(rk + 1, i, w) for rk, (_, i, w) in enumerate(keyed[:WS_K])]

    got = [tuple(r) for r in q_weighted_sample(spark, SF_DIR).collect()]
    assert got == want

    # importance property: the sampled mean weight exceeds the corpus mean
    corpus_mean = sum(w for _, w in rows) / len(rows)
    sample_mean = sum(w for _, _, w in want) / len(want)
    assert sample_mean > corpus_mean


def test_gram_windows_total_on_short_docs(spark):
    """gram_windows is total (ADVICE r11): documents shorter than one
    window yield the EMPTY array, not bogus clamped grams from Spark's
    descending sequence(0, size-L) when size < L."""
    from pyspark.sql import functions as F

    from tez_spark.functions.text import gram_windows, tokens

    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("solo",)], "text string"
    ).select(tokens("text").alias("_toks"))
    got = [r.g for r in df.select(gram_windows(3).alias("g")).collect()]
    assert got == [["a b c", "b c d"], [], [], []]


def test_exactsubstr_spans_merges_intervals(spark, tmp_path):
    """Constructed corpus pins the span algebra: cross-doc duplicated
    windows merge into one maximal span; same-doc repeats count as
    duplication; EXACTLY adjacent windows (next start == current end)
    stay separate spans — they share no token. Mirrors the pure-Python
    reference computed inline, independent of both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tez_spark.functions.text_queries import (
        DUP_SPAN_L as L,
        q_exactsubstr_spans,
    )

    assert L == 6  # the constructed positions below assume it
    filler = lambda tag, n: [f"{tag}{i}" for i in range(n)]
    shared = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dogs"]
    phrase = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = {
        # doc 0 and 1 share an 8-token run -> 3 windows each, one merged
        # span of 8 tokens per doc
        0: filler("a", 2) + shared + filler("b", 3),
        1: filler("c", 5) + shared + filler("d", 1),
        # doc 2 repeats a 6-token phrase with a 1-token gap (window
        # starts 0 and 7): two separate spans
        2: phrase + ["gap"] + phrase,
        # doc 3 repeats it back-to-back (starts 0 and 6, exactly
        # adjacent): still two spans, no token shared
        3: phrase + phrase,
        # doc 4 has no duplicated window
        4: filler("e", 10),
    }
    pq.write_table(
        pa.table({
            "doc_id": pa.array(sorted(docs), pa.int64()),
            "source": pa.array(["t"] * len(docs)),
            "text": pa.array([" ".join(docs[k]) for k in sorted(docs)]),
        }),
        str(tmp_path / "documents.parquet"),
    )

    # independent reference: brute-force window counts + interval union
    from collections import Counter

    cnt = Counter()
    wins = {}
    for d, toks in docs.items():
        wins[d] = []
        for p in range(len(toks) - L + 1):
            g = " ".join(toks[p : p + L])
            wins[d].append((p, g))
            cnt[g] += 1
    want = []
    for d in sorted(docs):
        spans = []
        for p, g in wins[d]:
            if cnt[g] < 2:
                continue
            if spans and p < spans[-1][1]:
                spans[-1] = (spans[-1][0], p + L, spans[-1][2] + 1)
            else:
                spans.append((p, p + L, 1))
        want += [(d, s, e, n) for s, e, n in spans]

    got = [tuple(r) for r in q_exactsubstr_spans(spark, str(tmp_path)).collect()]
    assert got == want, (got, want)
    # the constructed expectations, spelled out
    assert (0, 2, 10, 3) in got and (1, 5, 13, 3) in got
    assert [(s, e) for d, s, e, n in got if d == 2] == [(0, 6), (7, 13)]
    assert [(s, e) for d, s, e, n in got if d == 3] == [(0, 6), (6, 12)]
    assert not [r for r in got if r[0] == 4]


def test_exactsubstr_spans_default_plan_is_skew_safe(spark):
    """VERDICT r12 What's-wrong #1 guard: the registry DEFAULT plan
    must compute corpus-wide gram duplication as a partial-agg'd
    gram-frequency aggregation + LEFT SEMI join (AQE-skew-splittable
    probe), NEVER as COUNT(*) OVER (PARTITION BY g) — a window
    partition holds every instance of a gram with no map-side combine
    and cannot be AQE-skew-split, a straggler on Zipfian text at
    100TB. The per-doc interval-union windows (partitionBy doc_id) are
    bounded and allowed. The DuckDB oracle pins its values."""
    from tez_spark.functions.text_queries import q_exactsubstr_spans

    sf = os.environ.get("TEZ_SPARK_TEST_SF", "/root/testdata/sf0.001")
    default = q_exactsubstr_spans(spark, sf)
    plan = default._jdf.queryExecution().executedPlan().toString()
    # every Window operator partitions by doc_id only — none by the gram key
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line.split("windowspecdefinition", 1)[1][:40], line
    assert "LeftSemi" in plan, "duplication test lost its semi-join shape"


def test_exactsubstr_oracle_window_algebra_property():
    """Seeded-random property sweep of the DuckDB exactsubstr oracle
    (no Spark: the engine side is pinned by the constructed-case test
    and the fixture hash compare; this exercises the ORACLE's window
    algebra — running-max interval union + run keying — against a
    brute-force pure-Python reference on corpora dense with overlapping
    and adjacent duplicated windows, the regimes fixtures undersample)."""
    import random
    from collections import Counter

    import duckdb
    import pandas as pd  # noqa: F401  (duckdb DataFrame registration)

    from tez_spark.functions.text_queries import DUP_SPAN_L as L, ORACLE

    rng = random.Random(12)
    for trial in range(8):
        vocab = [f"w{i}" for i in range(rng.randint(2, 6))]  # tiny: dense dups
        docs = {
            d: [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
            for d in range(rng.randint(2, 8))
        }
        # reference: brute force windows + left-to-right interval union
        cnt = Counter()
        for toks in docs.values():
            for p in range(len(toks) - L + 1):
                cnt[" ".join(toks[p : p + L])] += 1
        want = []
        for d in sorted(docs):
            toks, spans = docs[d], []
            for p in range(len(toks) - L + 1):
                if cnt[" ".join(toks[p : p + L])] < 2:
                    continue
                if spans and p < spans[-1][1]:
                    spans[-1] = (spans[-1][0], p + L, spans[-1][2] + 1)
                else:
                    spans.append((p, p + L, 1))
            want += [(d, s, e, n) for s, e, n in spans]

        con = duckdb.connect()
        pdf = pd.DataFrame(
            {"doc_id": sorted(docs), "text": [" ".join(docs[d]) for d in sorted(docs)]}
        )
        con.register("documents", pdf)
        got = con.execute(ORACLE["exactsubstr_spans"]).fetchall()
        assert got == want, (trial, got, want)


def test_exactsubstr_chars_matches_bruteforce(spark, tmp_path):
    """Character-level ExactSubstr (Lee et al. ACL 2022 §4.1, 50-char
    threshold): constructed corpus vs an inline brute-force suffix-ish
    reference (every stride-1 50-char window counted corpus-wide,
    duplicated positions interval-merged). Covers cross-doc shared
    runs, back-to-back same-doc repeats (adjacent spans stay separate),
    sub-token repeats invisible to the token-window form, and docs
    with no duplication."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tez_spark.functions.text_queries import (
        CHAR_SPAN_L as L,
        q_exactsubstr_chars,
    )

    assert L == 50
    # unique fillers: 5-char items bracketed by the tag letter, so a
    # filler's boundary char NEVER matches another filler's (a '.' at
    # both prefix boundaries would extend the shared span by one)
    uniq = lambda tag, n: "".join(
        f"{tag}{i:03d}{tag}" for i in range(n // 5 + 1)
    )[:n]
    shared = "the quick brown fox jumps over the lazy dog again and more!"  # 59
    assert len(shared) == 59
    phrase = "abcdefghij" * 5  # exactly 50 chars
    docs = {
        0: uniq("a", 20) + shared + uniq("b", 30),
        1: uniq("c", 45) + shared + uniq("d", 10),
        # periodic text: EVERY window repeats 10 chars later -> one
        # merged span covering the whole doc
        2: phrase + phrase,
        # sub-token repeat across docs 2/3 (no whitespace): the token
        # form can't see it, the char form must
        3: uniq("e", 15) + phrase + uniq("f", 15),
        4: uniq("g", 120),  # no duplication
        5: "short doc",     # under one window
    }
    pq.write_table(
        pa.table({
            "doc_id": pa.array(sorted(docs), pa.int64()),
            "source": pa.array(["t"] * len(docs)),
            "text": pa.array([docs[k] for k in sorted(docs)]),
        }),
        str(tmp_path / "documents.parquet"),
    )

    from collections import Counter

    cnt = Counter()
    wins = {}
    for d, s in docs.items():
        wins[d] = [
            (p, s[p : p + L]) for p in range(len(s) - L + 1)
        ]
        for _, g in wins[d]:
            cnt[g] += 1
    want = []
    for d in sorted(docs):
        spans = []
        for p, g in wins[d]:
            if cnt[g] < 2:
                continue
            if spans and p < spans[-1][1]:
                spans[-1] = (spans[-1][0], p + L, spans[-1][2] + 1)
            else:
                spans.append((p, p + L, 1))
        want += [(d, s0, e0, n0) for s0, e0, n0 in spans]

    got = [tuple(r) for r in q_exactsubstr_chars(spark, str(tmp_path)).collect()]
    assert got == want, (got, want)
    # the constructed expectations, spelled out
    span_of = lambda d: [(s, e) for dd, s, e, n in got if dd == d]
    assert span_of(0) == [(20, 79)] and span_of(1) == [(45, 104)]
    assert span_of(2) == [(0, 100)]  # periodic: one corpus-maximal span
    assert span_of(3) == [(15, 65)]
    assert span_of(4) == [] and span_of(5) == []
    # and the skew-safe plan shape, same guard as the token form
    plan = (
        q_exactsubstr_chars(spark, str(tmp_path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "doc_id" in line.split("windowspecdefinition", 1)[1][:40], line
    assert "LeftSemi" in plan


def test_exactsubstr_trim_splices_complement(spark, tmp_path):
    """Trim = the complement splice of exactsubstr_chars' merged spans:
    constructed docs exercise a span at position 0, a span reaching the
    end of text, a WHOLE-document span (trimmed to empty), and a
    span-free doc (verbatim pass-through). Reference computed inline
    from the brute-force span algebra."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tez_spark.functions.text_queries import (
        CHAR_SPAN_L as L,
        q_exactsubstr_trim,
    )

    uniq = lambda tag, n: "".join(
        f"{tag}{i:03d}{tag}" for i in range(n // 5 + 1)
    )[:n]
    head = "x" * 60   # 60-char run shared by docs 0/1 at position 0
    tail = "y" * 55   # 55-char run shared at the very END of docs 2/3
    whole = "z" * 80  # docs 4/5 are an entire duplicated run
    docs = {
        0: head + uniq("a", 40),
        1: head + uniq("b", 25),
        2: uniq("c", 30) + tail,
        3: uniq("d", 45) + tail,
        4: whole,
        5: whole,
        6: uniq("e", 90),  # no duplication: verbatim
        7: "tiny",         # under one window: verbatim
    }
    pq.write_table(
        pa.table({
            "doc_id": pa.array(sorted(docs), pa.int64()),
            "source": pa.array(["t"] * len(docs)),
            "text": pa.array([docs[k] for k in sorted(docs)]),
        }),
        str(tmp_path / "documents.parquet"),
    )

    # inline reference: span algebra + complement splice
    from collections import Counter

    cnt = Counter()
    wins = {}
    for d, s in docs.items():
        wins[d] = [(p, s[p : p + L]) for p in range(len(s) - L + 1)]
        for _, g in wins[d]:
            cnt[g] += 1
    want = {}
    for d in sorted(docs):
        s = docs[d]
        spans = []
        for p, g in wins[d]:
            if cnt[g] < 2:
                continue
            if spans and p < spans[-1][1]:
                spans[-1] = (spans[-1][0], p + L)
            else:
                spans.append((p, p + L))
        kept, cur = [], 0
        for a, b in spans:
            kept.append(s[cur:a])
            cur = b
        kept.append(s[cur:])
        want[d] = ("".join(kept), sum(b - a for a, b in spans))

    got = {
        r.doc_id: (r.trimmed_text, r.n_removed_chars)
        for r in q_exactsubstr_trim(spark, str(tmp_path)).collect()
    }
    assert got == want, (got, want)
    # spelled out: x-run removed from the front, y-run from the back,
    # whole-run docs trimmed to EMPTY, others verbatim
    assert got[0] == (uniq("a", 40), 60) and got[1] == (uniq("b", 25), 60)
    assert got[2] == (uniq("c", 30), 55) and got[3] == (uniq("d", 45), 55)
    assert got[4] == ("", 80) and got[5] == ("", 80)
    assert got[6] == (uniq("e", 90), 0) and got[7] == ("tiny", 0)
    # conservation: length(trimmed) + removed == length(text), per doc
    for d, (t, n) in got.items():
        assert len(t) + n == len(docs[d])


def test_decontaminate_chars_flags_planted_cross_split_overlap(spark, tmp_path):
    """Planted-contamination semantics for the r13 char-level
    decontamination: a 60-char string shared VERBATIM between a train
    doc and a holdout doc must contaminate the holdout doc (every
    50-char window of the shared run is shared); a holdout doc with no
    cross-split overlap must report zero shared windows even though it
    repeats text WITHIN the holdout split (holdout-holdout overlap is
    not contamination); a sub-50-char holdout doc is absent. The
    md5(doc_id) split puts ids 3/44/49 in HOLDOUT and 0/1/2 in TRAIN
    (recomputed inline, not assumed)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tez_spark.plans.curation import q_decontaminate_chars

    def is_hold(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:2] >= "e6"

    assert [is_hold(i) for i in (0, 1, 2, 3, 44, 49)] == [
        False, False, False, True, True, True,
    ]

    shared = "the quick brown fox jumps over the lazy dog again and again!"
    assert len(shared) == 60
    hold_only = "zqxwvut " * 12  # 96 chars, unique to the holdout split
    docs = {
        0: "TRAIN prefix >>> " + shared + " <<< train suffix padding",
        1: "other train text with nothing shared, long enough to count",
        3: "HOLD prefix ::: " + shared + " ::: hold suffix padding!!",
        44: hold_only + " tail",
        49: hold_only + " tail",  # verbatim repeat of 44 — same split
        2: "short train doc but still above the fifty character line",
    }
    pq.write_table(
        pa.table({
            "doc_id": list(docs), "text": list(docs.values()),
            "lang": ["en"] * len(docs), "source": ["s"] * len(docs),
            "n_chars": [len(t) for t in docs.values()],
        }),
        str(tmp_path / "documents.parquet"),
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_shared_windows"], r["contaminated"])
        for r in q_decontaminate_chars(spark, str(tmp_path)).collect()
    }
    assert set(got) == {3, 44, 49}, got  # holdout docs with >=1 window only
    n3, s3, c3 = got[3]
    assert c3 and s3 >= len(shared) - 50 + 1, got  # every window of the run
    assert s3 < n3  # the ::: framing windows are not in train
    for d in (44, 49):
        n, s, c = got[d]
        assert not c and s == 0 and n == len(docs[d]) - 49, got
