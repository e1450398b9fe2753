"""The query runner: layer split, job counts, release, error capture,
and the bench A/B's ability to load it into an engine that lacks it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from test_operators import _PREFIX_SUMS_BUILD_JOBS, _cache_manager

from cobradb_spark import registry
from cobradb_spark.operators import rank
from cobradb_spark.runner import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warm_run(spark, key, sf_dir, sink="noop"):
    """The first build of a table infers its parquet schema with a job;
    an untimed run first keeps that job out of the counted record."""
    run(spark, key, sf_dir)
    return run(spark, key, sf_dir, sink=sink)


def test_agg_basic_runs_its_jobs_in_execution(spark, sf_dir):
    rec = _warm_run(spark, "agg_basic", sf_dir)
    assert rec.error is None
    assert rec.build_jobs == 0
    assert rec.exec_jobs > 0
    assert rec.total_s == rec.build_s + rec.exec_s
    assert rec.plan_s > 0


def test_plan_hash_is_the_audited_hash(spark, sf_mid):
    """The record's plan hash is the one tools/plan_audit.py writes for
    the key at sf0.01."""
    with open(os.path.join(ROOT, "plans", "HASHES.json")) as f:
        want = json.load(f)["agg_basic"]["hash"]
    assert run(spark, "agg_basic", sf_mid).plan_hash == want


def test_python_plan_is_recorded(spark, sf_dir):
    assert run(spark, "udaf_pandas_grouped_agg", sf_dir).python
    assert not run(spark, "agg_basic", sf_dir).python


def test_prefix_sums_key_build_jobs_and_release(spark, sf_dir):
    key = "agg_weighted_median_exact"
    rec = _warm_run(spark, key, sf_dir)
    assert rec.error is None
    assert rec.build_jobs == _PREFIX_SUMS_BUILD_JOBS[key]
    assert rec.persisted_delta == 0
    assert _cache_manager(spark).isEmpty()


def test_failing_key_is_recorded_and_pins_released(spark, sf_dir, monkeypatch):
    pinned = []

    def boom(spark, sf_dir):
        df = spark.range(10).persist()
        df.count()
        pinned.append(df)
        spark.range(5).localCheckpoint()
        raise ValueError("boom at build")

    monkeypatch.setitem(registry._REGISTRY, "test_runner_boom", registry.Query("test_runner_boom", boom))
    rank.release_rank_caches()  # what earlier tests left would read as a negative delta
    rec = run(spark, "test_runner_boom", sf_dir)
    assert "boom at build" in rec.error
    assert not pinned[0].storageLevel.useMemory
    assert rec.persisted_delta == 0


@pytest.mark.parametrize(
    "key", ["graph_connected_components", "graph_hits_scores", "text_bpe_train"]
)
def test_loop_keys_leave_nothing_persisted(spark, sf_dir, key):
    """A loop key's per-round local checkpoints and its persisted edge
    list are gone once its run ends, not left for the ContextCleaner."""
    rank.release_rank_caches()  # free what earlier tests left
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    rec = run(spark, key, sf_dir)
    assert rec.error is None
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_pandas_sink_matches_to_pandas(spark, sf_dir):
    rec = run(spark, "agg_basic", sf_dir, sink="pandas")
    df = registry.get_query("agg_basic").fn(spark, sf_dir)
    want = df.toPandas()
    rank.release_rank_caches()
    assert rec.error is None
    assert rec.schema == df.schema
    rows = lambda pdf: sorted(pdf.itertuples(index=False, name=None))  # noqa: E731
    assert rows(rec.frame) == rows(want)
    assert "frame" not in rec.to_json()


def test_bench_once_runs_an_engine_without_the_runner(tmp_path, sf_dir):
    """bench.py's A/B runs tools/bench_once.py against a worktree of an
    older commit, whose engine has no runner.py: bench_once must load
    this checkout's runner by path."""
    shutil.copytree(os.path.join(ROOT, "cobradb_spark"), tmp_path / "cobradb_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    os.remove(tmp_path / "cobradb_spark" / "runner.py")
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "bench_once.py"), str(tmp_path), sf_dir, "agg_basic"],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert list(got) == ["queries"] and list(got["queries"]) == ["agg_basic"]
    assert isinstance(got["queries"]["agg_basic"], float)
