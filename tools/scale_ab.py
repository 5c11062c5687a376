"""Scale-evidence A/B (VERDICT r10 item 7): the 100TB claims rest on
plan shapes + counters at sf0.1 — this harness generates fixture-style
synthetic corpora at 1x / 3x / 10x the bench SF and MEASURES how the
flagship candidate-bounded paths scale (wall clock + shuffle bytes)
against their quadratic twins, replacing asserted-linear claims with
fitted exponents.

Corpus style mirrors the driver fixtures (TESTDATA.md): ~31-word
vocabulary, ~55-word documents (word-3-gram shingling collision
profile), ~2% planted near-dup pairs, 64-dim float32 embeddings.
Quadratic twins are capped at 3x where their runtime would explode —
the cap is the point: the fitted exponent says WHY the twin cannot
ship at 100TB.

Usage: python tools/scale_ab.py [--scales 1,3,10] [--out /tmp/scale_ab.json]
       [--only name1,name2]   (run a subset of the case list)
Run on an IDLE box (uptime first — see PERF.md host-noise protocol);
results land in PERF.md round 11.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_DOCS = 5_000      # sf0.1 documents row count
BASE_EMB = 2_000       # sf0.1 embeddings row count
ROOT = "/tmp/tez_spark_scale_ab"

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join shuffle stage task plan node"
).split()  # 31 words — the fixture's collision profile

LANGS = ["en", "en", "de", "zh", "fr", "es"]


def gen_fixture(scale: int) -> str:
    """Write documents.parquet + embeddings.parquet for one scale under
    ROOT/x{scale}. Deterministic (seed embeds the scale); ~2% of docs
    are near-dups of an earlier doc (last 3 of ~55 words replaced) so
    candidate-bounded paths have real work at every scale."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(ROOT, f"x{scale}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    n = BASE_DOCS * scale
    rng = np.random.RandomState(1234 + scale)
    words = np.array(VOCAB)
    # (n, 55) word-index matrix -> texts
    idx = rng.randint(0, len(words), size=(n, 55))
    stride = max(n // 10, 1)
    dup_mask = (np.arange(n) % 47 == 1) & (np.arange(n) >= stride)
    src = np.arange(n) - stride
    idx[dup_mask] = idx[src[dup_mask]]
    idx[dup_mask, -3:] = rng.randint(0, len(words), size=(dup_mask.sum(), 3))
    texts = [" ".join(words[row]) for row in idx]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n)],
            "source": [f"src{i % 7}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(out, "documents.parquet"),
    )

    m = BASE_EMB * scale
    emb = rng.standard_normal((m, 64)).astype(np.float32)
    # plant ~2% near-identical vectors so threshold paths have output
    edup = (np.arange(m) % 53 == 1) & (np.arange(m) >= m // 10)
    esrc = np.arange(m) - m // 10
    emb[edup] = emb[esrc[edup]] + 0.01 * rng.standard_normal(
        (edup.sum(), 64)
    ).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(m, dtype=np.int64)),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array((np.arange(m) % 10).astype(np.int32)),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )
    with open(os.path.join(out, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    return out


def build_cases(spark) -> list:
    """[(name, fn(sf_dir) -> DataFrame, max_scale)]: registry queries,
    then two attribution cases measured apart from them."""
    from tez_spark.plans.registry import all_queries

    reg = all_queries()
    # (name, max_scale): twins capped where runtime would explode —
    # the cap IS the finding (see module docstring)
    case_spec = [
        # flagship candidate-bounded paths
        ("dedup_minhash_lsh", None),
        ("dedup_incremental", None),
        ("editdistance_discovery", None),
        ("dedup_embedding_lsh", None),
        ("ann_ivf", None),
        # r12 additions (VERDICT r12 item 4): bpe_segment is a
        # zero-shuffle broadcast-merge-table mapInPandas (expect ~N^1.0
        # map-only); exactsubstr_spans is measured on the POST-FLIP
        # agg+semi plan (gram exchange expected ~N^1.0)
        ("bpe_segment", None),
        ("exactsubstr_spans", None),
        # r13: character-level ExactSubstr (Lee et al. 50-char) —
        # expect ~N^1.0: corpus-linear stride-1 char windows through
        # one persisted explode + partial-agg'd count + semi join
        ("exactsubstr_chars", None),
        # trim consumes the memoized char_span_table; its distinctive
        # work is the per-doc complement splice — expect ~N^1.0
        ("exactsubstr_trim", None),
        # char-level cross-split decontamination: distinct + gram-keyed
        # left join over the shared char-gram artifact — expect ~N^1.0
        ("decontaminate_chars", None),
        # r14: text_dup_spans joined the posture-flipped family (dup-set
        # marker join over the recomputed token-gram stream) — expect
        # ~N^1.0 like its exactsubstr_spans sibling
        ("text_dup_spans", None),
        # quadratic twins
        ("dedup_ngram_jaccard", 3),
        ("dedup_embedding", None),  # exact all-pairs cosine
        ("ann_topk", None),  # exact brute-force scan baseline
        # r17 (VERDICT r16 item 2): the r16-changed plan shapes get
        # measured scale evidence instead of argued scale evidence.
        # multimodal_decode: bytes-sized fan_out — the spread target is
        # ceil(input_bytes / 4MB), so the exchange is absent at x1 and
        # reappears bytes-sized (not slot-count-sized) as data grows;
        # expect ~N^1 wall/executor.
        ("multimodal_decode", None),
        # CC with the 1-hop seed: pair producer is gram-candidate-
        # bounded, loop is diameter-bounded — expect ~N^1 shuffle.
        ("dedup_clusters", None),
        # embedding CC rides the exact all-pairs producer (the declared
        # quadratic stage) — capped like the other quadratic twins; the
        # CC tail itself is edge-linear.
        ("dedup_embedding_clusters", 3),
        # ann probe with the map-side per-(batch, query) top-k trim:
        # exchange rows bounded at k x |queries| x n_batches — expect
        # sublinear wall vs the exact twin, ~N^1 executor (audit side).
        ("ann_incremental", None),
    ]
    cases = [
        (n, (lambda d, _n=n: reg[_n](spark, d)), cap) for n, cap in case_spec
    ]

    # the LSH PATH alone, without the registry query's in-query exact
    # recall audit (r12: the registry row's N^1.21 shuffle exponent is
    # the AUDIT's all-pairs block matmul — the declared quadratic twin —
    # riding the same query; the shipping path must be measured apart
    # to attribute the exponent honestly)
    def _lsh_path_only(d):
        from tez_spark.operators.similarity import dedup_embedding_lsh
        from tez_spark.sources.catalog import load_table as _lt

        return dedup_embedding_lsh(_lt(spark, d, "embeddings"),
                                   threshold=0.45, dim=64)

    cases.append(("dedup_embedding_lsh_path", _lsh_path_only, None))

    # the CC TAIL alone on a LINEAR edge set (r17, the _lsh_path_only
    # attribution move): the registry cluster rows ride pair producers
    # whose FIXTURE-geometry blows up quadratically at scale (the fixed
    # 31-word vocabulary makes every 3-gram class grow ~N, so exact
    # gram-keyed pairing yields ~N^2 candidates; uniform-random
    # embeddings at cos>=0.45 yield ~N^2 random edges — measured
    # 194 -> 1615 at x1 -> x3). The r16/r17 claim under test is the
    # 1-hop-seeded min-label loop itself, so it gets an edge-LINEAR
    # input: the fixture's planted near-dup pairs re-derived
    # arithmetically (i%47==1, partner i - N//10 — ~N/47 edges,
    # diameter 1). Expect ~N^1 shuffle, FLAT n_jobs.
    def _cc_planted(d):
        from tez_spark.operators.dedup import connected_components
        from tez_spark.sources.catalog import load_table, table_row_count

        import pyspark.sql.functions as F

        stride = table_row_count(d, "documents") // 10
        ids = load_table(spark, d, "documents").select("doc_id").filter(
            (F.col("doc_id") % 47 == 1) & (F.col("doc_id") >= stride)
        )
        pairs = ids.select(
            (F.col("doc_id") - stride).alias("da"), F.col("doc_id").alias("db")
        )
        return connected_components(pairs, edges_unique=True).orderBy(
            "component", "doc_id"
        )

    cases.append(("cc_tail_planted_pairs", _cc_planted, None))
    return cases


def fit_exponents(by_scale: dict) -> dict | None:
    """Exponent log(b/a) / log(r) of each metric between the smallest and
    largest scale in {"x1": row, "x10": row, ...} (r: their ratio). A
    metric zero at either end is skipped; one scale has no fit (None)."""
    ks = sorted(by_scale, key=lambda k: int(k[1:]))
    lo, hi = ks[0], ks[-1]
    r = int(hi[1:]) / int(lo[1:])
    if r <= 1:
        return None
    exps = {}
    for metric in ("wall_sec", "shuffle_bytes", "executor_ms"):
        a, b = by_scale[lo][metric], by_scale[hi][metric]
        if a and b:
            exps[metric] = round(math.log(b / a) / math.log(r), 2)
    return exps


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scales", default=[1, 3, 10],
                    type=lambda v: [int(s) for s in v.split(",")],
                    help="comma list of multiples of the sf0.1 row counts")
    ap.add_argument("--out", default="/tmp/scale_ab.json")
    ap.add_argument("--only", help="comma list: run a subset of the case list")
    args = ap.parse_args()

    import bench
    from tez_spark.operators.core import release_caches

    # bench's protocol on local[$SPARK_GRAFT_CPUS]: a warm run (codegen
    # + artifact build excluded from timing), then captured passes
    spark, _, cpus = bench.session_from_env("scale_ab")
    cases = build_cases(spark)
    if args.only:
        only = {s.strip() for s in args.only.split(",")}
        unknown = only - {n for n, _, _ in cases}
        if unknown:
            sys.exit(f"--only names not in the case list: {sorted(unknown)}")
        cases = [c for c in cases if c[0] in only]
    runs, _ = bench.sample_runs(cpus)
    results: dict[str, dict] = {}
    for scale in args.scales:
        sf_dir = gen_fixture(scale)
        print(f"=== scale x{scale}: {sf_dir}", file=sys.stderr, flush=True)
        builds = {name: (lambda fn=fn: fn(sf_dir))
                  for name, fn, cap in cases if cap is None or scale <= cap}
        bench.warm(builds)
        samples = {n: [] for n in builds}
        bench.run_passes(builds, runs, samples, {}, spark)
        # n_jobs (r17): flat job counts across scales are the direct
        # evidence a shape adds no per-scale driver rounds
        for name, s in samples.items():
            if s:  # bench printed any failure
                row = bench.job_row(s)
                results.setdefault(name, {"scales": {}})["scales"][f"x{scale}"] = row
                print(f"{name}@x{scale}: {row}", file=sys.stderr, flush=True)
        release_caches()

    # exponents under a sibling key so scale keys and metric keys never
    # coexist in one dict (ADVICE r11: consumers iterating scale keys
    # had to special-case the exponent entries)
    for entry in results.values():
        exps = fit_exponents(entry["scales"])
        if exps is not None:
            entry["exponents"] = exps
    print(json.dumps(results, indent=1))
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
