"""Property: MinHash-LSH dedup output equals the exact Jaccard truth on
generated corpora with planted near-dups (the 32x4 banding's per-pair
miss probability at j>=0.8 is ~5e-8, so exact equality is a stable
assertion at test scale — a recall regression in shingling, the hash
family, banding, or verification breaks this immediately)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _corpus(seed: int, n_base: int = 50, n_dups: int = 12):
    rng = random.Random(seed)
    vocab = [f"w{i:03d}" for i in range(200)]
    rows = []
    for i in range(n_base):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    for k in range(n_dups):
        base_id, text = rows[k]
        words = text.split()
        # one word substitution: 3-gram jaccard stays well above 0.8
        words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((1000 + base_id, " ".join(words)))
    return rows


def test_minhash_lsh_equals_exact_on_random_corpora(spark):
    from tez_spark.operators.core import release_caches, tracked_persist
    from tez_spark.operators.dedup import (
        _pair_jaccard,
        _verify_pairs,
        band_signatures,
        candidates_from_bands,
        minhash_signatures,
        shingles,
    )

    for seed in (3, 17):
        release_caches()
        docs = spark.createDataFrame(_corpus(seed), "doc_id long, text string")
        sh = tracked_persist(shingles(docs, "doc_id", "text", n=3))
        exact = {
            (r.da, r.db, round(r.j, 9))
            for r in _pair_jaccard(sh).filter(F.col("j") >= 0.8).collect()
        }
        cand = tracked_persist(
            candidates_from_bands(
                tracked_persist(band_signatures(minhash_signatures(sh)))
            )
        )
        got = {
            (r.da, r.db, round(r.j, 9))
            for r in _verify_pairs(cand, sh).filter(F.col("j") >= 0.8).collect()
        }
        assert exact, f"seed {seed}: corpus generated no near-dup pairs"
        assert got == exact, f"seed {seed}: LSH {got ^ exact} differs"


def test_connected_components_known_graph(spark):
    from tez_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # {1,2,3,4} as a chain, {7,9}, and 5 isolated-by-absence
        [(1, 2), (2, 3), (3, 4), (7, 9)], "da long, db long"
    )
    got = {(r.component, r.doc_id) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (1, 2), (1, 3), (1, 4), (7, 7), (7, 9)}


def test_winnow_true_pairs_share_two_fingerprints(spark):
    """Fixture-drift guard (ADVICE r4): dedup_winnow's >=2-shared-
    fingerprint candidate filter is declared against the exact all-pairs
    oracle, so its recall rests on the PROPERTY that every true J>=0.8
    pair in the fixtures shares at least 2 winnow fingerprints. Assert
    that property directly: a regenerated fixture that breaks it fails
    here in CI rather than as a driver hash mismatch."""
    from tests.conftest import SF_DIR
    from tez_spark.operators.dedup import _pair_jaccard, shingle_table, winnow_table

    sh = shingle_table(spark, SF_DIR)
    true_pairs = _pair_jaccard(sh).filter(F.col("j") >= 0.8).select("da", "db")
    fps = winnow_table(spark, SF_DIR)
    a = fps.select(F.col("doc_id").alias("da"), "fp")
    b = fps.select(F.col("doc_id").alias("db"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    joined = true_pairs.join(shared, ["da", "db"], "left").select(
        F.coalesce("n_shared", F.lit(0)).alias("n_shared")
    )
    row = joined.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.min("n_shared").alias("min_shared")
    ).collect()[0]
    assert row.n_pairs > 0, "fixtures lost their planted near-dup pairs"
    assert row.min_shared >= 2, (
        f"a true J>=0.8 pair shares only {row.min_shared} winnow "
        "fingerprint(s) — dedup_winnow's candidate filter would miss it; "
        "prefer dedup_minhash_lsh on this corpus"
    )


def test_incremental_dedup_reuses_persisted_corpus_signatures(spark):
    """dedup_incremental's contract: the corpus side is served from the
    persisted signature store (corpus_artifacts), never re-shingled.
    (a) the store is a stable session-memoized persisted artifact —
    repeated calls return the SAME persisted DataFrames; (b) a warm run
    (store materialized) moves measurably fewer shuffle bytes than the
    cold run that had to build the corpus shingle+band tables."""
    from tests.conftest import SF_DIR
    from tez_spark.observability import capture
    from tez_spark.operators.core import release_caches, release_shared
    from tez_spark.operators.dedup import corpus_artifacts, q_dedup_incremental

    release_caches()
    release_shared(spark)

    sh1, bands1 = corpus_artifacts(spark, SF_DIR)
    sh2, bands2 = corpus_artifacts(spark, SF_DIR)
    assert sh1 is sh2 and bands1 is bands2, "signature store not memoized"
    assert sh1.storageLevel.useMemory or sh1.storageLevel.useDisk

    def run():
        release_caches()  # batch-side scratch only; the store survives
        q_dedup_incremental(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()

    release_shared(spark)  # cold: the run itself builds the store
    _, cold = capture(spark, run)
    _, warm = capture(spark, run)  # warm: store already persisted
    assert warm.get("SHUFFLE_BYTES", 0) < cold.get("SHUFFLE_BYTES", 1), (
        f"warm run shuffled {warm.get('SHUFFLE_BYTES')} >= cold "
        f"{cold.get('SHUFFLE_BYTES')} — the corpus is being re-shingled"
    )


def test_winnow_collapse_exact_equals_direct_on_clustered_corpus(spark):
    """winnow_pairs(collapse_exact=True) must return EXACTLY the direct
    path's pairs on a corpus with a planted 25-doc identical cluster —
    and do it from a representative-level candidate set that is O(R²),
    not O(M²) (the content-hash bucket caveat the collapse exists for).
    """
    import random

    from tez_spark.functions.text_queries import winnow_fingerprints
    from tez_spark.operators.core import release_caches, tracked_persist
    from tez_spark.operators.dedup import (
        _pair_jaccard,
        _winnow_candidates,
        shingles,
        winnow_pairs,
    )

    release_caches()
    rng = random.Random(11)
    vocab = [f"w{i:03d}" for i in range(200)]
    rows = []
    # a 25-member EXACT-duplicate cluster (the pathological bucket)
    boiler = " ".join(rng.choice(vocab) for _ in range(30))
    for i in range(25):
        rows.append((i, boiler))
    # a near-dup of the cluster text (cross-cluster J >= 0.8 pair)
    words = boiler.split()
    words[3] = "zzz"
    rows.append((100, " ".join(words)))
    # unrelated singletons
    for i in range(20):
        rows.append((200 + i, " ".join(rng.choice(vocab) for _ in range(30))))
    # a SHORT exact-duplicate pair: 6 tokens → shingled (4 3-grams) but
    # exactly ONE winnow fp (one complete window at K=3/W=4), so the
    # direct path's >=2-shared-fp filter excludes it. The collapse path
    # must exclude it too (the r6 advice finding: unconditional
    # intra-cluster emission returned a superset here).
    short = " ".join(vocab[:6])
    rows.append((300, short))
    rows.append((301, short))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = tracked_persist(shingles(docs, "doc_id", "text", n=3))
    fps = tracked_persist(winnow_fingerprints(docs))

    exact = {
        (r.da, r.db, round(r.j, 9))
        for r in _pair_jaccard(sh).filter(F.col("j") >= 0.8).collect()
    }
    direct = {
        (r.da, r.db, round(r.j, 9))
        for r in winnow_pairs(docs, fps, sh).collect()
    }
    collapsed = {
        (r.da, r.db, round(r.j, 9))
        for r in winnow_pairs(docs, fps, sh, collapse_exact=True).collect()
    }
    # 25-cluster: C(25,2)=300 intra pairs + 25 cross pairs to doc 100,
    # plus the short pair (300,301) that ONLY the exact truth contains —
    # both winnow paths exclude it via the >=2-shared-fp candidate rule
    assert len(exact) == 326
    assert (300, 301, 1.0) in exact
    assert direct == exact - {(300, 301, 1.0)}
    assert collapsed == direct

    # candidate-set boundedness: the direct fp self-join materializes
    # every intra-cluster pair; the collapsed path sees ONE bucket row
    n_direct = _winnow_candidates(fps).count()
    rep_ids = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    n_collapsed = _winnow_candidates(
        fps.join(rep_ids, "doc_id", "left_semi")
    ).count()
    assert n_direct >= 325
    assert n_collapsed <= n_direct / 40


def _lev(a: str, b: str) -> int:
    """Plain DP Levenshtein — the reference implementation for the
    editdistance_pairs property test."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _mutate(rng, alphabet: str, s: str, n: int) -> str:
    """n random edits (substitute/insert/delete) — the shared edit model
    for both edit-distance property tests."""
    out = list(s)
    for _ in range(n):
        op = rng.randrange(3)
        if op == 0 and out:  # substitute
            out[rng.randrange(len(out))] = rng.choice(alphabet)
        elif op == 1:  # insert
            out.insert(rng.randrange(len(out) + 1), rng.choice(alphabet))
        elif out:  # delete
            del out[rng.randrange(len(out))]
    return "".join(out)


def test_editdistance_pairs_equals_bruteforce(spark):
    """editdistance_pairs == brute-force DP over all pairs, on a corpus
    whose lengths straddle every bucket boundary the equijoin candidate
    scheme depends on (empties, lengths K-1/K/K+1, |dL| exactly K) and
    whose edits span 0..K+4 (so both sides of the threshold appear)."""
    import random

    from tez_spark.operators.dedup import K_ED, editdistance_pairs

    rng = random.Random(11)
    alphabet = "abcdef "

    rows: list[tuple[int, str]] = [(0, ""), (1, "")]
    i = 2
    for base_len in (1, K_ED - 1, K_ED, K_ED + 1, 2 * K_ED, 37, 55):
        s = "".join(rng.choice(alphabet) for _ in range(base_len))
        rows.append((i, s))
        i += 1
        for n_ed in (1, K_ED // 2, K_ED, K_ED + 4):
            rows.append((i, _mutate(rng, alphabet, s, n_ed)))
            i += 1
    # a pair with |dL| exactly K (candidate window edge: ed == K iff
    # the longer string extends the shorter by K pure insertions)
    tail = "".join(rng.choice(alphabet) for _ in range(30))
    rows.append((i, tail))
    rows.append((i + 1, tail + "x" * K_ED))

    expected = {
        (da, db, _lev(ta, tb))
        for (da, ta) in rows
        for (db, tb) in rows
        if da < db and _lev(ta, tb) <= K_ED
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.da, r.db, r.dist) for r in editdistance_pairs(docs).collect()}
    assert got == expected
    assert any(d == K_ED for _, _, d in expected)  # threshold edge hit
    assert (0, 1, 0) in expected  # empty-string pair survives bucketing


def test_passjoin_pairs_equals_length_window_exact(spark):
    """passjoin_pairs (segment-indexed candidates, the declared 100TB
    ed-discovery path) == editdistance_pairs (length-window exact, which
    the test above pins to brute-force DP) on random mutated corpora
    with small k — including empties, sub-k+1-length docs (the short
    stratum), bucket-boundary lengths, and |dL| == k pairs."""
    import random

    from tez_spark.operators.dedup import editdistance_pairs, passjoin_pairs

    k = 4
    rng = random.Random(23)
    alphabet = "abcde "

    for seed in (5, 29):
        rng.seed(seed)
        rows: list[tuple[int, str]] = [(0, ""), (1, "ab"), (2, "abcd")]
        i = 3
        for base_len in (k, k + 1, 2 * k, 11, 23, 40):
            s = "".join(rng.choice(alphabet) for _ in range(base_len))
            rows.append((i, s))
            i += 1
            for n_ed in (1, k, k + 2):
                rows.append((i, _mutate(rng, alphabet, s, n_ed)))
                i += 1
        rows.append((i, "x" * 20))
        rows.append((i + 1, "x" * (20 + k)))  # |dL| == k, ed == k

        docs = spark.createDataFrame(rows, "doc_id long, text string")
        want = {
            (r.da, r.db, r.dist)
            for r in editdistance_pairs(docs, k=k).collect()
        }
        got = {
            (r.da, r.db, r.dist) for r in passjoin_pairs(docs, k=k).collect()
        }
        assert got == want, (
            f"seed {seed}: missing {want - got}, extra {got - want}"
        )
        assert want, "degenerate test corpus: no pairs at all"


def test_ed_discovery_oracle_sql_equals_bruteforce():
    """The DuckDB ORACLE for editdistance_discovery re-implements the
    PassJoin candidate equijoin in SQL; if its candidate windows were
    subtly narrower than the Spark side's, both engines could agree
    while both miss pairs. Pin the SQL twin DIRECTLY to all-pairs
    brute-force truth on random mutated corpora (no Spark involved),
    covering empties, the short stratum, bucket-boundary lengths and
    |dL| == k pairs — the same corpus family the Spark-side property
    test uses."""
    import random

    import duckdb

    from tez_spark.operators.dedup import K_ED_DISCOVERY, _passjoin_oracle_sql

    k = K_ED_DISCOVERY
    rng = random.Random(31)
    alphabet = "abcde "

    for seed in (7, 41):
        rng.seed(seed)
        rows: list[tuple[int, str]] = [(0, ""), (1, "ab"), (2, "abcd")]
        i = 3
        for base_len in (k, k + 1, 2 * k, 11, 23, 40):
            s = "".join(rng.choice(alphabet) for _ in range(base_len))
            rows.append((i, s))
            i += 1
            for n_ed in (1, k, k + 2):
                rows.append((i, _mutate(rng, alphabet, s, n_ed)))
                i += 1
        rows.append((i, "x" * 20))
        rows.append((i + 1, "x" * (20 + k)))

        expected = {
            (da, db, _lev(ta, tb))
            for (da, ta) in rows
            for (db, tb) in rows
            if da < db and _lev(ta, tb) <= k
        }
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, text VARCHAR)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        got = {tuple(r) for r in con.execute(_passjoin_oracle_sql(k)).fetchall()}
        assert got == expected, (
            f"seed {seed}: missing {expected - got}, extra {got - expected}"
        )
        assert expected, "degenerate test corpus: no pairs at all"


def test_passjoin_short_stratum_scales_with_distinct_texts(spark):
    """VERDICT r8 item 7: a planted block of empty/1-char duplicates
    must not make the short stratum quadratic in ROWS. Correctness: all
    within-block and cross-block pairs are still emitted (the OUTPUT is
    legitimately quadratic for a duplicate block — the bound is on the
    candidate/verify stage, which must run once per distinct TEXT
    pair). The structural guard: the plan's short-stratum cross join
    sides are distinct-text aggregates, not raw id rows."""
    from tez_spark.operators.dedup import passjoin_pairs

    k = 4
    # 30 empty docs + 20 one-char docs + 2 long docs (out of stratum)
    rows = [(i, "") for i in range(30)]
    rows += [(100 + i, "a") for i in range(20)]
    rows += [(500, "x" * 30), (501, "x" * 30 + "y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.da, r.db, r.dist) for r in passjoin_pairs(docs, k=k).collect()}
    # every pair inside the 50-doc short block is within ed<=1<=k
    short_ids = sorted([i for i in range(30)] + [100 + i for i in range(20)])
    want = {
        (a, b, 0 if (a < 30) == (b < 30) else 1)
        for ai, a in enumerate(short_ids)
        for b in short_ids[ai + 1:]
    }
    want.add((500, 501, 1))
    assert got == want, f"missing {want - got}, extra {got - want}"

    # structural: the cross-join inputs are text-level (HashAggregate /
    # distinct feeds the join), so candidate generation is bounded by
    # distinct short texts (2 here), not the 50 short rows
    plan = passjoin_pairs(docs, k=k)._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" in plan or "Aggregate" in plan, plan[:2000]


def test_passjoin_short_stratum_equijoin(spark):
    """ADVICE r9: the short stratum pairs distinct texts via a
    banded-length EQUIJOIN (no explicit broadcast — safe at any k, a
    diverse corpus's distinct <=2k-length texts never reach the
    driver). Pin the explode window's edges on a corpus whose short
    stratum carries real pairs — including the k-apart length edge
    (|l_sh - l_any| == k) the window must keep — against brute force,
    and assert the plan holds no unconditional broadcast of the
    distinct-text side."""
    import tez_spark.operators.dedup as dd

    k = 4
    rows = [(0, ""), (1, "a"), (2, "ab"), (3, "abcd"),
            (4, "abcdefgh"), (5, "zzzz"), (6, "abce"),
            (7, "x" * 30), (8, "x" * 30 + "y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.da, r.db, r.dist) for r in dd.passjoin_pairs(docs, k=k).collect()}
    want = {
        (da, db, _lev(ta, tb))
        for (da, ta) in rows
        for (db, tb) in rows
        if da < db and _lev(ta, tb) <= k
    }
    assert got == want, f"missing {want - got}, extra {got - want}"
    # the (l_sh=0, l_any=k) edge: empty doc vs "abcd" at ed exactly k
    assert (0, 3, k) in got
    # no pre-AQE broadcast hint on the short stratum: ResolvedHint would
    # appear in the analyzed plan if F.broadcast() were reintroduced
    analyzed = dd.passjoin_pairs(docs, k=k)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed


def test_connected_components_seed_fusion_and_unique_edges(spark):
    """r16 CC changes pinned: (a) the 1-hop label seed returns the same
    components as identity-seeded propagation on a long chain (needs
    several propagation rounds past the seed); (b) edges_unique=True on
    input with DUPLICATE pairs still returns correct components (min-
    label is insensitive to duplicate edges — the distinct it skips was
    only a size optimization); (c) a diameter over max_iter+1 raises."""
    import pytest

    from tez_spark.operators.dedup import connected_components

    # (a) chain 10-11-...-16 (diameter 6) plus a 2-cycle pair
    chain = [(i, i + 1) for i in range(10, 16)] + [(30, 31)]
    pairs = spark.createDataFrame(chain, "da long, db long")
    want = {(10, d) for d in range(10, 17)} | {(30, 30), (30, 31)}
    got = {
        (r.component, r.doc_id)
        for r in connected_components(pairs).collect()
    }
    assert got == want

    # (b) duplicate pairs + edges_unique=True (the flag asserts the
    # CALLER contract; results must still be right if it is violated,
    # because min-label propagation ignores edge multiplicity)
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], "da long, db long"
    )
    got = {
        (r.component, r.doc_id)
        for r in connected_components(dup, edges_unique=True).collect()
    }
    assert got == {(1, 1), (1, 2), (1, 3)}

    # (c) diameter 6 cannot converge within max_iter=2 (+1-hop seed)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2).collect()

