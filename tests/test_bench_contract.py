"""bench.py stdout contract: the headline JSON line must fit the
driver's ~2000-char stdout tail at ANY registry size and value mix — the
r5 parsed-null truncation must be unreproducible (VERDICT r6 task 8).
One greedy rule fills it: queries that ran are named in cost order at ms
resolution while the line fits, the cheapest rest are counted in
queries_omitted, failed ones in queries_failed.
No Spark session needed; pure formatting."""

from __future__ import annotations

import glob
import json
import os
import random

import bench

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _line(partial: bool = False, runs: int = 1) -> dict:
    d = {
        "metric": "tez_spark_total_wall_clock",
        "value": 123456.789,
        "unit": "sec",
        "queries": {},
        "sf": "/root/testdata/sf0.1",
        "steal_pct": 99.99,
        "runs": runs,
        "cpus": 32,
    }
    if partial:
        d["partial"] = True
    return d


def _real_names() -> list[str]:
    from tez_spark.plans.registry import all_queries

    return list(all_queries())


def _r10_mix(names, seed: int) -> dict:
    """The mix that shipped in BENCH_r10 (VERDICT r10 item 2), the r11
    idle-measured distribution: ~59% of queries in [0.05, 0.5) s, ~28% in
    [0.5, 0.95) s, the rest 1-10 s."""
    rng = random.Random(seed)
    timings = {}
    for i, n in enumerate(sorted(names)):
        r = i / len(names)
        if r < 0.59:
            timings[n] = round(rng.uniform(0.05, 0.49), 3)
        elif r < 0.87:
            timings[n] = round(rng.uniform(0.5, 0.94), 3)
        else:
            timings[n] = round(rng.uniform(1.0, 10.0), 3)
    return timings


def _headline(timings: dict, names, partial: bool = False, runs: int = 1) -> dict:
    """Render one headline and assert the whole contract on it: it fits
    the budget and parses; the contract fields survive unchanged; every
    query is accounted for exactly once across queries / queries_failed
    / queries_omitted; failed queries are never named; each named value
    is within 0.0005 s of its timing (no false 0); and every named query
    sorts before every omitted one by (cost desc, name asc)."""
    line = _line(partial, runs)
    fields = {k: v for k, v in line.items() if k != "queries"}
    out = bench.format_headline(line, timings, names)
    assert len(out) <= bench.HEADLINE_BUDGET, len(out)
    parsed = json.loads(out)
    for k, v in fields.items():
        assert parsed[k] == v, (k, parsed.get(k), v)
    qs = parsed["queries"]
    ran = [n for n in names if timings.get(n, -1.0) >= 0]
    assert set(qs) <= set(ran)
    assert parsed.get("queries_failed", 0) == len(names) - len(ran)
    assert len(qs) + parsed.get("queries_omitted", 0) == len(ran)
    # the two counts appear only when nonzero
    assert parsed.get("queries_failed", 1) > 0
    assert parsed.get("queries_omitted", 1) > 0
    for n, v in qs.items():
        assert abs(v - timings[n]) <= 0.0005 + 1e-9, (n, v, timings[n])
        assert v != 0 or timings[n] < 0.0005, (n, v, timings[n])
    omitted = set(ran) - set(qs)
    if qs and omitted:
        def key(n):
            return (-timings[n], n)

        assert max(map(key, qs)) < min(map(key, omitted))
    return parsed


def test_headline_budget_fits_shortest_captured_tail():
    """The budget plus the headline's newline fits the shortest captured
    stdout tail (every BENCH_r*.json `tail` so far is exactly 2000
    chars, not the ~2048 once assumed)."""
    tails = [
        len(json.load(open(p))["tail"])
        for p in glob.glob(os.path.join(_REPO, "BENCH_r*.json"))
    ]
    assert tails
    assert bench.HEADLINE_BUDGET + 1 <= min(tails)


def test_headline_fits_tail_at_125_queries_3_digit_values():
    """125 realistically-named queries all burst-inflated to 999.99s —
    far beyond anything a physical window produces — must still
    serialize under the budget, parse, and account for every query
    (omission is explicit, never silent)."""
    names = _real_names()
    names = names + [f"next_round_q{i:02d}" for i in range(125 - len(names))]
    assert len(names) == 125
    parsed = _headline({n: 999.99 for n in names}, names)
    assert parsed["queries_omitted"] > 0
    assert all(v == 999.99 for v in parsed["queries"].values())


def test_headline_partial_all_failed_fits_without_omission():
    """A SIGTERM-timeout partial emit (every query failed or never
    attempted) at the live registry names nothing and counts every
    query in queries_failed — no -1 entries, no omission."""
    names = _real_names()
    parsed = _headline({}, names, partial=True)
    assert parsed["queries"] == {}
    assert parsed["queries_failed"] == len(names)
    assert "queries_omitted" not in parsed


def test_headline_measured_r10_mix_never_prints_zero():
    """The mix that shipped broken in BENCH_r10 (69 of 118 real queries
    printed 0): at the live registry every named query carries its
    nonzero ms timing."""
    names = _real_names()
    timings = _r10_mix(names, seed=11)
    parsed = _headline(timings, names)
    assert all(v > 0 for v in parsed["queries"].values())


def test_headline_names_every_query_over_half_a_second():
    """At the live registry and the r10 mix, every query costing at
    least 0.5 s — the rows that carry the total — is named."""
    names = _real_names()
    for seed in range(20):
        timings = _r10_mix(names, seed)
        parsed = _headline(timings, names)
        heavy = {n for n, t in timings.items() if t >= 0.5}
        assert heavy <= set(parsed["queries"]), (seed, heavy - set(parsed["queries"]))


def test_headline_realistic_mix_keeps_subsecond_precision():
    """A 0.2–3 s mix at the live registry plus one planted sub-tick
    (31 ms) query: every named value is exact to the millisecond."""
    names = _real_names()
    rng = random.Random(3)
    timings = {n: round(rng.uniform(0.2, 3.0), 3) for n in names}
    timings[sorted(names)[0]] = 0.031
    parsed = _headline(timings, names)
    assert len(parsed["queries"]) >= len(names) // 2


def test_headline_ms_enrichment_is_complete_on_small_registries():
    """When the registry is small enough, the headline names EVERY query
    at ms resolution and omits nothing."""
    for size in (12, 60):
        names = _real_names()[:size]
        timings = {n: 0.123 + i for i, n in enumerate(names)}
        parsed = _headline(timings, names)
        assert "queries_omitted" not in parsed
        assert parsed["queries"] == {n: round(t, 3) for n, t in timings.items()}


def test_headline_ms_enrichment_skips_failed_queries():
    """Failed (-1) queries carry no timing signal: they are only
    counted in queries_failed, never named."""
    names = _real_names()[:20]
    timings = {n: -1.0 for n in names}
    timings[names[0]] = 2.5
    parsed = _headline(timings, names)
    assert parsed["queries"] == {names[0]: 2.5}
    assert parsed["queries_failed"] == 19


def test_headline_keeps_2dp_precision_when_it_fits():
    """A smaller registry (or one with short names) keeps every value
    exact — shedding only fires on overflow."""
    names = _real_names()[:80]
    parsed = _headline({n: 1.23 for n in names}, names)
    assert "queries_omitted" not in parsed
    assert parsed["queries"] == {n: 1.23 for n in names}


def test_headline_ms_enrichment_is_additions_only():
    """Naming queries only ever adds to the contract line: every field
    the caller put in the line (cpus included) survives byte-identical
    at the live registry, 125 and 200 names, and the only keys the
    headline adds are the queries map and its two counts."""
    real = _real_names()
    rng = random.Random(17)
    for n_names in (len(real), 125, 200):
        names = real + [f"extra_q{i:03d}" for i in range(n_names - len(real))]
        timings = {n: round(rng.uniform(0.05, 4.0), 3) for n in names}
        line = _line()
        base = json.dumps({k: v for k, v in line.items() if k != "queries"},
                          separators=(",", ":"))
        parsed = _headline(timings, names)
        assert parsed["cpus"] == line["cpus"]
        added = set(parsed) - set(json.loads(base))
        assert added <= {"queries", "queries_omitted", "queries_failed"}
        kept = {k: v for k, v in parsed.items() if k not in added}
        assert json.dumps(kept, separators=(",", ":")) == base
        for n, v in parsed["queries"].items():
            assert v == round(timings[n], 3)


def test_headline_partial_ds_drop_keeps_largest_subsecond_entries():
    """At the live registry a mostly sub-second mix (the r12 shape) does
    not fit whole: the line sheds the SMALLEST entries (name-asc
    tiebreak) into queries_omitted — not all sub-second ones — so the
    expensive sub-second rows keep their per-query signal, and every
    query of a second or more stays named."""
    names = _real_names()
    rng = random.Random(7)
    timings = {}
    for i, n in enumerate(sorted(names)):
        r = i / len(names)
        if r < 0.62:
            timings[n] = round(rng.uniform(0.05, 0.49), 3)
        elif r < 0.88:
            timings[n] = round(rng.uniform(0.5, 0.94), 3)
        else:
            timings[n] = round(rng.uniform(1.0, 10.0), 3)
    parsed = _headline(timings, names, runs=3)
    qs = parsed["queries"]
    sub = {n for n in names if timings[n] < 1.0}
    assert sub & set(qs), "all-or-nothing drop regressed: no sub-second row named"
    dropped = set(names) - set(qs)
    if dropped:
        kept_min = min(timings[n] for n in sub & set(qs))
        dropped_max = max(timings[n] for n in dropped)
        assert dropped_max <= kept_min, (dropped_max, kept_min)
        assert dropped <= sub
    assert {n for n in names if timings[n] >= 1.0} <= set(qs)


def test_headline_names_costliest_queries_first():
    """At the live registry the line cannot name every query: the ones
    it sheds are the cheapest (cost desc, name asc tiebreak — asserted
    by _headline), including on ties."""
    names = _real_names()
    for seed in (7, 17):
        rng = random.Random(seed)
        timings = {n: round(rng.uniform(0.05, 4.0), 3) for n in names}
        assert _headline(timings, names).get("queries_omitted", 0) > 0
    tied = {n: 0.5 for n in names}
    parsed = _headline(tied, names)
    assert list(parsed["queries"]) == sorted(names)[: len(parsed["queries"])]


def test_headline_never_overflows_even_at_absurd_scale():
    """200 long-named queries, half failed and half at 3-digit values:
    the line still fits, parses, keeps its contract fields and names no
    failed query."""
    names = [f"extremely_long_query_name_for_growth_{i:03d}" for i in range(200)]
    timings = {n: (999.99 if i % 2 else -1.0) for i, n in enumerate(names)}
    parsed = _headline(timings, names, partial=True)
    assert parsed["queries_failed"] == 100
    assert all(v >= 0 for v in parsed["queries"].values())


def test_headline_carries_sample_count_through_every_tier():
    """VERDICT r11 item 4: the diagnostics line that records runs_policy
    is what the 2000-char stdout tail truncates first, so `runs` — and with it
    steal_pct and the partial flag — must survive in the HEADLINE at
    every budget pressure: the live registry, 125 names and 200 names
    (_headline asserts every contract field)."""
    names = _real_names()
    for n_names in (len(names), 125, 200):
        big = names + [f"extra_q{i:03d}" for i in range(n_names - len(names))]
        timings = {n: (0.4 if i % 2 else 999.99) for i, n in enumerate(big)}
        for partial in (False, True):
            parsed = _headline(timings, big, partial=partial, runs=2)
            assert parsed["runs"] == 2


def test_headline_accounting_property():
    """Property sweep over random registry sizes and value mixes: every
    rendering satisfies the whole contract asserted by _headline."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    real = _real_names()

    @settings(max_examples=60, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=200),
        seed=st.integers(min_value=0, max_value=10**6),
        fail_rate=st.floats(min_value=0.0, max_value=1.0),
    )
    def check(n, seed, fail_rate):
        rng = random.Random(seed)
        names = [real[i % len(real)] + (f"_{i}" if i >= len(real) else "")
                 for i in range(n)]
        timings = {}
        for nm in names:
            if rng.random() < fail_rate:
                timings[nm] = -1.0
            else:
                timings[nm] = round(rng.choice([
                    rng.uniform(0.0, 0.049),   # sub-tick
                    rng.uniform(0.05, 0.49),   # decisecond band
                    rng.uniform(0.5, 9.99),    # small seconds
                    rng.uniform(10, 999),      # heavy
                ]), 3)
        _headline(timings, names)

    check()


def test_achieved_runs_ignores_never_attempted_queries():
    """ADVICE r12 (low): on a SIGTERM-mid-sweep partial, queries never
    attempted carry n_samples 0 and must not stamp runs=0 when every
    query that actually ran was sampled 2-3x."""
    queries = ["a", "b", "c"]
    # partial emit: a and b ran (3 and 2 samples), c never attempted
    assert bench.achieved_runs({"a": 3, "b": 2, "c": 0}, queries, set()) == 2
    # failed queries are excluded regardless of samples
    assert bench.achieved_runs({"a": 3, "b": 1}, queries, {"b"}) == 3
    # nothing ran at all -> 0 (the partial flag marks incompleteness)
    assert bench.achieved_runs({}, queries, set()) == 0
    # complete run: the true min survives
    assert bench.achieved_runs({"a": 2, "b": 2, "c": 2}, queries, set()) == 2
