"""process_batch's plan shape: the gid assembly rule against its groupBy +
join formulation, the match plan running once inside the assignment
checkpoint, the per-batch job budget, and the pinned state/index read
schemas with their footer check."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from webdedup import scope as scope_mod
from webdedup import streaming
from webdedup.config import DedupConfig
from webdedup.synth import generate_pages, pages_to_spark

# what parquet schema inference returned for both tables before the reads
# pinned a schema: column order, the `part` partition column's int type
# and all-nullable fields are part of the contract
STATE_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": "url", "type": "string", "nullable": True, "metadata": {}},
        {"name": "shingles", "nullable": True, "metadata": {},
         "type": {"type": "array", "elementType": "long", "containsNull": True}},
        {"name": "bands", "nullable": True, "metadata": {},
         "type": {"type": "array", "elementType": "long", "containsNull": True}},
        {"name": "gid", "type": "string", "nullable": True, "metadata": {}},
    ],
}
INDEX_SCHEMA = {
    "type": "struct",
    "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in [("ref_url", "string"), ("ref_gid", "string"),
                     ("key_idx", "integer"), ("key_hash", "long"),
                     ("k64", "long"), ("part", "integer")]
    ],
}


def _old_assembly(batch_urls, matched, internal):
    """The formulation _assign_gids replaced: per-component min matched gid
    by groupBy, joined back to the rows it was computed from."""
    assign = batch_urls.join(matched, "url", "left").join(
        internal.withColumnRenamed("gid", "igid"), "url", "left"
    )
    comp_gid = (
        assign.where(F.col("igid").isNotNull() & F.col("gid").isNotNull())
        .groupBy("igid")
        .agg(F.min("gid").alias("cgid"))
    )
    return (
        assign.join(comp_gid, "igid", "left")
        .withColumn(
            "gid", F.coalesce(F.col("gid"), F.col("cgid"), F.col("igid"), F.col("url"))
        )
        .select("url", "gid")
    )


def test_assign_gids_matches_groupby_join_oracle(spark):
    urls = ["a1", "a2", "a3", "b1", "b2", "c1", "d1"]
    batch_urls = spark.createDataFrame([(u,) for u in urls], "url string")
    # a-component: members match two different state gids, a3 matches none;
    # b-component: no state match; c1: matched singleton; d1: unmatched one
    matched = spark.createDataFrame(
        [("a1", "S9"), ("a2", "S2"), ("c1", "S5")], "url string, gid string"
    )
    internal = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("a3", "a1"), ("b1", "b1"), ("b2", "b1")],
        "url string, gid string",
    )
    got = dict(streaming._assign_gids(batch_urls, matched, internal).collect())
    want = dict(_old_assembly(batch_urls, matched, internal).collect())
    assert got == want
    assert got == {
        "a1": "S9", "a2": "S2", "a3": "S2",
        "b1": "b1", "b2": "b1",
        "c1": "S5",
        "d1": "d1",
    }


def _consumed(df):
    df.count()
    return df


@pytest.fixture(scope="module")
def batches(spark):
    pages_pd, _, _ = generate_pages(n_docs=120, seed=5)
    sdf = pages_to_spark(spark, pages_pd).cache()
    sdf.count()
    key = F.pmod(F.xxhash64("url"), F.lit(2))
    yield sdf.where(key == 0), sdf.where(key == 1)
    sdf.unpersist()


def test_second_epoch_job_budget_and_replay(spark, batches, tmp_path, jobs_submitted):
    """A second-epoch batch of ~60 pages against indexed state: 55 jobs
    before the assignment ran its match plan once, the internal pairs were
    verified in did space, CC dropped its count job and the state/index
    reads dropped schema inference; 36 after; 31 once the match dropped
    its Bloom prefilter (the filter build and the live-partition collect).
    A replay of the epoch reassigns identically."""
    cfg = DedupConfig()
    state_dir = str(tmp_path / "state")
    b0, b1 = batches
    streaming.release_batch(
        _consumed(streaming.process_batch(spark, b0, state_dir, cfg, epoch_id=0))
    )
    first, n = jobs_submitted(
        "pin-process-batch",
        lambda: streaming.process_batch(spark, b1, state_dir, cfg, epoch_id=1),
    )
    got = set(map(tuple, first.collect()))
    streaming.release_batch(first)
    assert n <= 31, n

    replay = streaming.process_batch(spark, b1, state_dir, cfg, epoch_id=1)
    assert set(map(tuple, replay.collect())) == got
    streaming.release_batch(replay)


def test_match_plan_runs_once_in_assignment(spark, batches, tmp_path, monkeypatch):
    """The executed plan behind the `assigned` checkpoint holds one
    band-key index scan and one state-shingle scan (a groupBy joined back
    to its own input held the match plan twice), and no Bloom probe."""
    cfg = DedupConfig()
    state_dir = str(tmp_path / "state")
    b0, b1 = batches
    streaming.release_batch(
        _consumed(streaming.process_batch(spark, b0, state_dir, cfg, epoch_id=0))
    )
    assigned = []
    checkpoint = scope_mod.Scope.checkpoint

    def spy(self, df):
        out = checkpoint(self, df)
        if df.columns == ["url", "gid"]:
            assigned.append(df)
        return out

    monkeypatch.setattr(scope_mod.Scope, "checkpoint", spy)
    streaming.release_batch(streaming.process_batch(spark, b1, state_dir, cfg, epoch_id=1))
    # the CC result is the first (url, gid) checkpoint, the assignment the last
    plan = assigned[-1]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython [_probe(" not in final, final
    # (scan locations are truncated in plan strings: match the read schema)
    scans = lambda schema: [  # noqa: E731
        ln for ln in final.splitlines()
        if "FileScan" in ln and f"ReadSchema: struct<{schema}" in ln
    ]
    assert len(scans("url:string,shingles:")) == 1, final
    assert len(scans("ref_url")) == 1, final


def test_pinned_read_schemas_equal_inferred(spark, batches, tmp_path):
    cfg = DedupConfig()
    state_dir = str(tmp_path / "state")
    for e, b in enumerate(batches):
        streaming.release_batch(
            _consumed(streaming.process_batch(spark, b, state_dir, cfg, epoch_id=e))
        )
    assert streaming.read_state(spark, state_dir).schema.jsonValue() == STATE_SCHEMA
    cov = streaming._index_coverage(state_dir, [0, 1])
    assert cov == (None, [0, 1])
    assert streaming._read_index(spark, state_dir, *cov).schema.jsonValue() == INDEX_SCHEMA
    # a compacted (merged=) root reads with the same schema
    assert streaming.compact_index(spark, state_dir) == 0
    cov = streaming._index_coverage(state_dir, [0, 1])
    assert cov == (0, [1])
    assert streaming._read_index(spark, state_dir, *cov).schema.jsonValue() == INDEX_SCHEMA


def test_footer_mismatch_raises_instead_of_nulls(spark, batches, tmp_path):
    """An epoch written without `bands` (a legacy or foreign writer) makes
    read_state raise naming the directory — a pinned schema alone would
    read the column as nulls.  Same for an index directory without k64."""
    cfg = DedupConfig()
    state_dir = tmp_path / "state"
    streaming.release_batch(
        _consumed(streaming.process_batch(spark, batches[0], str(state_dir), cfg, epoch_id=0))
    )
    legacy = state_dir / "state" / "epoch=1"
    streaming.read_state(spark, str(state_dir)).drop("bands").write.parquet(str(legacy))
    with pytest.raises(ValueError, match="epoch=1"):
        streaming.read_state(spark, str(state_dir))
    # epochs below the bad one still read
    assert streaming.read_state(spark, str(state_dir), before_epoch=1).count() > 0

    index = state_dir / "bandkeys" / "epoch=0"
    bad = tmp_path / "bad_index"
    spark.read.parquet(str(index)).drop("k64").write.partitionBy("part").parquet(str(bad))
    shutil.rmtree(index)
    shutil.move(str(bad), str(index))
    with pytest.raises(ValueError, match="bandkeys/epoch=0"):
        streaming._read_index(spark, str(state_dir), None, [0])
