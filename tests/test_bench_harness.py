"""The shared measurement harness: bench.py's protocol steps on a live
session (the default headline run and the --jobs histogram) and the
scaling-exponent fit of tools/scale_ab.py."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from tests.conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scale_ab():
    spec = importlib.util.spec_from_file_location(
        "scale_ab", os.path.join(_REPO, "tools", "scale_ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _row(wall, shuffle, executor):
    return {"wall_sec": wall, "shuffle_bytes": shuffle, "executor_ms": executor}


def test_fit_exponents_uses_extreme_scales_and_skips_zeros():
    fit = _scale_ab().fit_exponents
    by_scale = {
        "x10": _row(10.0, 0, 1000),
        "x1": _row(1.0, 0, 10),
        # a middle scale never enters the fit
        "x3": _row(999.0, 5, 1),
    }
    exps = fit(by_scale)
    # wall 1 -> 10 over 10x is N^1; executor 10 -> 1000 is N^2
    assert exps == {"wall_sec": 1.0, "executor_ms": 2.0}
    # a zero at either end skips that metric only
    assert "shuffle_bytes" not in exps
    assert fit({"x1": _row(1.0, 4, 0), "x3": _row(3.0, 36, 5)}) == {
        "wall_sec": 1.0,
        "shuffle_bytes": 2.0,
    }
    # one measured scale has nothing to fit
    assert fit({"x3": _row(2.0, 10, 10)}) is None


def test_bench_jobs_histogram_and_build_ms(spark, tmp_path, monkeypatch, capsys):
    """One query subset through the whole protocol twice: --jobs writes
    the per-query histogram, and the default run's diagnostics carry a
    build time no larger than each query's timing."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"fixture dir {SF_DIR} not present on this host")
    import bench
    from tez_spark.operators.core import release_caches, release_shared

    monkeypatch.setenv("TEZ_SPARK_BENCH_ONLY", "q01,q06")
    monkeypatch.setenv("TEZ_SPARK_BENCH_RUNS", "1")
    monkeypatch.setenv("TEZ_SPARK_BENCH_WARM_SF", SF_DIR)
    monkeypatch.setattr(bench, "SETTLE_S", 0.0)
    queries = bench.select_queries()
    assert sorted(queries) == ["q01", "q06"]
    try:
        out = tmp_path / "jobs.json"
        bench.run(spark, SF_DIR, 4, queries, jobs_out=str(out))
        hist = json.loads(out.read_text())
        assert hist["n_queries"] == 2 and hist["cpus"] == 4
        for name in queries:
            row = hist["queries"][name]
            assert set(row) == {"wall_sec", "n_jobs", "n_stages",
                                "shuffle_bytes", "executor_ms"}, row
            assert 1 <= row["n_jobs"] <= row["n_stages"], row
        assert "metric" not in capsys.readouterr().out

        bench.run(spark, SF_DIR, 4, queries)
        diag_line, headline = capsys.readouterr().out.strip().splitlines()[-2:]
        diag = json.loads(diag_line)["bench_diagnostics"]
        head = json.loads(headline)
        assert head["cpus"] == 4 and "queries_failed" not in head
        assert set(diag["build_ms"]) == set(diag["queries_ms"]) == set(queries)
        for name in queries:
            assert diag["build_ms"][name] <= diag["queries_ms"][name], diag
    finally:
        release_caches()
        release_shared(spark)
