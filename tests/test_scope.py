"""Block lifetimes go through webdedup.scope alone: no module-level registry,
no private release helper reached from outside it, and owners that hold
blocks (a failing micro-batch, pair_metrics) leave storage at baseline."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from webdedup.config import DedupConfig

ROOT = Path(__file__).resolve().parents[1]
PRIVATE_RELEASE = {"_registry", "_release_local_checkpoint"}


def _storage_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_only_scope_frees_blocks():
    """No webdedup module imports threading; neither webdedup/ nor
    __spark_entry__.py reaches a private release helper; only scope.py
    unpersists."""
    engine = sorted((ROOT / "webdedup").glob("*.py"))
    problems = []
    for path in [*engine, ROOT / "__spark_entry__.py"]:
        if path.name == "scope.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = {a.name.split(".")[0] for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                names = {node.module or ""} | {a.name for a in node.names}
            elif isinstance(node, ast.Attribute):
                names = {node.attr}
            else:
                continue
            bad = names & PRIVATE_RELEASE
            if path in engine:
                bad |= names & {"threading", "unpersist"}
            if bad:
                problems.append(f"{path.name}:{node.lineno} {sorted(bad)}")
    assert not problems, problems


def test_pair_metrics_frees_its_caches(spark):
    from webdedup.metrics import pair_metrics

    pred = spark.createDataFrame([("a", "b"), ("c", "b")], "url_a string, url_b string")
    truth = spark.createDataFrame([("b", "a")], "url_a string, url_b string")
    spark.catalog.clearCache()  # isolate from other tests' session caches
    m = pair_metrics(pred, truth)
    assert (m["tp"], m["n_pred"], m["n_true"]) == (1, 2, 1)
    assert _cache_empty(spark), "pair_metrics left DataFrame caches behind"


def test_failed_batch_frees_its_blocks(spark, tmp_path, monkeypatch):
    """An exception after the signatures persist and the assignment
    checkpoint propagates, and the batch's caches and checkpoint blocks are
    gone: a stream that retries a failing batch must not leak per attempt."""
    from webdedup import streaming
    from webdedup.synth import generate_pages, pages_to_spark

    def fail(*_args, **_kw):
        raise RuntimeError("index write failed")

    monkeypatch.setattr(streaming, "_write_epoch_index", fail)
    pages_pd, _, _ = generate_pages(n_docs=60, seed=13)
    batch = pages_to_spark(spark, pages_pd, partitions=2)
    spark.catalog.clearCache()
    before = _storage_ids(spark)
    with pytest.raises(RuntimeError, match="index write failed"):
        streaming.process_batch(spark, batch, str(tmp_path / "state"), DedupConfig())
    leaked = _storage_ids(spark) - before
    assert not leaked, f"failed batch leaked storage blocks: {leaked}"
    assert _cache_empty(spark), "failed batch left DataFrame caches behind"


def test_unresolvable_keeper_score_raises(spark):
    from webdedup.pipeline import run_dedup
    from webdedup.synth import generate_pages, pages_to_spark

    pages_pd, _, _ = generate_pages(n_docs=40, seed=5)
    pages = pages_to_spark(spark, pages_pd, partitions=2)
    with pytest.raises(ValueError, match="no_such_col"):
        run_dedup(
            spark,
            pages,
            DedupConfig(),
            with_substring=False,
            keeper="best",
            keeper_score=F.col("no_such_col"),
        )


def test_failed_run_dedup_frees_its_stage_outputs(spark, monkeypatch):
    """An exception in a later stage of the in-memory run_dedup propagates,
    and the stage outputs it had persisted are freed along with the blocks
    its layers held."""
    from webdedup import pipeline
    from webdedup.synth import generate_pages, pages_to_spark

    def fail(*_args, **_kw):
        raise RuntimeError("connected components failed")

    monkeypatch.setattr(pipeline, "connected_components", fail)
    pages_pd, _, _ = generate_pages(n_docs=60, seed=13)
    pages = pages_to_spark(spark, pages_pd, partitions=2)
    spark.catalog.clearCache()
    before = _storage_ids(spark)
    with pytest.raises(RuntimeError, match="connected components failed"):
        pipeline.run_dedup(spark, pages, DedupConfig(), with_golden=False)
    leaked = _storage_ids(spark) - before
    assert not leaked, f"failed run_dedup leaked storage blocks: {leaked}"
    assert _cache_empty(spark), "failed run_dedup left stage caches behind"
