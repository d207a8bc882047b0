"""End-to-end pipeline tests: planted-truth recall (north rule >= 0.99),
brute-force parity at the same config, text invariant, checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from webdedup.config import DedupConfig
from webdedup.features import jaccard_sketch
from webdedup.metrics import (
    canonical_pairs,
    pair_metrics,
    pairs_from_clusters,
    recall_by_type,
    text_invariant_violations,
)
from webdedup.pipeline import run_dedup
from webdedup.signatures import compute_signatures


@pytest.fixture(scope="module")
def memory_run(spark, corpus, cfg, jobs_submitted):
    """The in-memory run the tests here read, and the Spark jobs it took."""
    return jobs_submitted("e2e-memory", lambda: run_dedup(spark, corpus["pages"], cfg))


@pytest.fixture(scope="module")
def result(memory_run):
    return memory_run[0]


def test_recall_vs_planted_truth(spark, corpus, result):
    pred = pairs_from_clusters(result["clusters"])
    truth = corpus["truth_pairs"].select("url_a", "url_b")
    m = pair_metrics(pred, truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_recall_per_dup_type(spark, corpus, result):
    pred = pairs_from_clusters(result["clusters"])
    rows = recall_by_type(pred, corpus["truth_pairs"]).collect()
    for r in rows:
        assert r["recall"] >= 0.95, (r["dup_type"], r["recall"])


def test_parity_vs_bruteforce_oracle(spark, corpus, cfg, result):
    """The north-rule check: the LSH pipeline must recover >= 0.99 of the
    pairs a brute-force all-pairs pass (the reference's cartesian connector,
    suricate/preutils/indextools.py:105-118) accepts at the SAME config."""
    sigs = compute_signatures(corpus["pages"], cfg).select("url", "shingles")
    a = sigs.select(F.col("url").alias("url_a"), F.col("shingles").alias("sh_a"))
    b = sigs.select(F.col("url").alias("url_b"), F.col("shingles").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .where(F.col("url_a") < F.col("url_b"))
        .withColumn("j", jaccard_sketch(F.col("sh_a"), F.col("sh_b"), cfg.shingle_sketch_k))
        .where(F.col("j") >= cfg.jaccard_threshold)
        .select("url_a", "url_b")
    )
    # compare against transitive pipeline output (CC closure), like the
    # reference's gid propagation
    pred = canonical_pairs(pairs_from_clusters(result["clusters"]))
    n_oracle = brute.count()
    n_hit = brute.join(pred, ["url_a", "url_b"], "inner").count()
    assert n_oracle > 50  # sanity: the oracle found real dups
    assert n_hit / n_oracle >= 0.99, (n_hit, n_oracle)


def test_text_invariant(spark, corpus, result):
    # decisions/clusters never rewrite text; compare pages against itself
    # after a pass through the pipeline-joined projection
    clustered = corpus["pages"].join(result["clusters"], "url")
    assert text_invariant_violations(corpus["pages"], clustered) == 0


def test_candidates_carry_provenance(result):
    methods = {
        m
        for r in result["candidates"].select("methods").collect()
        for m in r["methods"]
    }
    assert {"exact", "minhash"} <= methods
    assert "substring" in methods or "simhash" in methods


def _rows(df) -> list[tuple]:
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def test_checkpoint_resume(spark, corpus, cfg, tmp_path, memory_run, jobs_submitted):
    """Cold and resumed checkpointed runs, against the in-memory run: one
    code path over two stage stores returns the same keys, the same columns
    (never the checkpoint layout's `part`) and the same clusters and
    decisions rows.  Job pins: 61 jobs in memory, 51 checkpointed and 2 on
    resume here."""
    ck = str(tmp_path / "ck")
    out1, cold_jobs = jobs_submitted(
        "resume-cold", lambda: run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=ck)
    )
    ev1 = [(e["stage"], e["action"]) for e in out1["_checkpointer"].events]
    assert all(a == "computed" for _, a in ev1)
    n1 = out1["clusters"].count()

    out2, warm_jobs = jobs_submitted(
        "resume-warm", lambda: run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=ck)
    )
    ev2 = [(e["stage"], e["action"]) for e in out2["_checkpointer"].events]
    assert all(a == "resumed" for _, a in ev2)
    assert out2["clusters"].count() == n1

    mem, mem_jobs = memory_run
    jobs = (mem_jobs, cold_jobs, warm_jobs)
    assert mem_jobs <= 61 and cold_jobs <= 51 and warm_jobs <= 2, jobs
    assert {*mem, "_checkpointer"} == out1.keys() == out2.keys()
    for k in mem:
        assert mem[k].columns == out1[k].columns == out2[k].columns, k
        assert "part" not in mem[k].columns, k
    for k in ("clusters", "decisions"):
        assert _rows(mem[k]) == _rows(out1[k]) == _rows(out2[k]), k

    # manifests carry lineage: per-partition counts + config hash
    for stage, _ in ev2:
        man = out2["_checkpointer"].manifest(stage)
        assert sum(man["partition_counts"].values()) == man["row_count"], stage
    man = out2["_checkpointer"].manifest("candidates")
    assert man["config_hash"] == cfg.config_hash()
    assert all(k.startswith("part=") for k in man["partition_counts"])
    assert man["parents"]["signatures"]

    # a changed semantic knob invalidates downstream stages
    out3 = run_dedup(
        spark,
        corpus["pages"],
        DedupConfig(jaccard_threshold=0.6),
        checkpoint_dir=ck,
    )
    ev3 = [(e["stage"], e["action"]) for e in out3["_checkpointer"].events]
    assert all(a == "computed" for _, a in ev3)


@pytest.fixture(scope="module")
def boiler(spark):
    """400 pages, 60% sharing a boilerplate header/footer (~240 docs, far
    above anchor_max_docs=64), and their planted truth pairs."""
    from webdedup.synth import generate_pages, pages_to_spark

    pages_pd, truth_pairs, _ = generate_pages(n_docs=400, seed=13, boiler_fraction=0.6)
    pages = pages_to_spark(spark, pages_pd, partitions=4).cache()
    pages.count()
    yield pages, spark.createDataFrame(truth_pairs).select("url_a", "url_b")
    pages.unpersist()


def test_skew_caps_fire_and_recall_holds(spark, cfg, tmp_path, boiler):
    """North-rule skew contract, end to end: on a corpus whose boilerplate
    cohort EXCEEDS the anchor bucket cap, (a) the candidates-stage manifest
    reports the dropped mass per method, and (b) planted-truth recall still
    holds — the caps drop boilerplate collisions, not true duplicates."""
    # the anchor buckets for the shared chrome MUST be capped
    pages, truth = boiler
    out = run_dedup(
        spark, pages, cfg, checkpoint_dir=str(tmp_path / "ck"), with_golden=False
    )
    man = out["_checkpointer"].manifest("candidates")
    drops = {d["method"]: d for d in man["metrics"]["skew_drops"]}
    assert set(drops) == {"minhash", "simhash", "substring", "substring_verify"}
    assert drops["substring"]["dropped_buckets"] > 0, drops
    assert drops["substring"]["max_dropped_bucket"] > 64, drops

    pred = pairs_from_clusters(out["clusters"])
    m = pair_metrics(pred, truth)
    assert m["recall"] >= 0.99, (m, drops)

    # decisions-stage manifest attributes accepted pairs to their candidate
    # source (the tiered-dedup audit companion to skew_drops)
    dman = out["_checkpointer"].manifest("decisions")
    by_method = dman["metrics"]["positive_pairs_by_method"]
    assert by_method.get("minhash", 0) > 0, by_method
    assert by_method.get("exact", 0) > 0, by_method
    assert sum(by_method.values()) > 0


@pytest.mark.parametrize(
    "knobs, fires",
    [
        # LSH and anchor caps both drop buckets
        (dict(max_bucket_size=4), {"minhash", "substring"}),
        # the gram buckets of the verify pass overflow their cap
        (dict(verify_max_docs=2), {"substring", "substring_verify"}),
        # every bucket capped: the sources yield no pairs at all
        (dict(max_bucket_size=1, anchor_max_docs=1), {"minhash", "simhash", "substring"}),
    ],
    ids=["lsh_and_anchor_caps", "verify_cap", "no_pairs"],
)
def test_skew_drops_equal_the_sources_skew_frames(spark, boiler, tmp_path, knobs, fires):
    """The candidates manifest's skew_drops, observed during the stage's own
    work, equal the rows the capped sources' skew frames aggregate."""
    from webdedup.candidates import minhash_candidates, simhash_candidates
    from webdedup.scope import Scope
    from webdedup.substring import substring_candidates, verify_overlaps

    pages, _ = boiler
    cfg = DedupConfig(**knobs)
    out = run_dedup(
        spark, pages, cfg, checkpoint_dir=str(tmp_path / "ck"), with_golden=False
    )
    drops = out["_checkpointer"].manifest("candidates")["metrics"]["skew_drops"]

    sigs = compute_signatures(pages, cfg).cache()
    mh_pairs, mh_skew = minhash_candidates(sigs, cfg)
    sh_pairs, sh_skew = simhash_candidates(sigs, cfg)
    with Scope() as scope:
        ss_pairs, ss_skew = substring_candidates(pages, cfg, scope=scope)
        _, verify_skew = verify_overlaps(ss_pairs, pages, cfg, scope=scope)
        union = mh_skew.unionByName(sh_skew).unionByName(ss_skew).unionByName(verify_skew)
        expected = [r.asDict() for r in union.collect()]
        n_pairs = mh_pairs.count() + sh_pairs.count() + ss_pairs.count()
    sigs.unpersist()

    assert drops == expected
    assert {d["method"] for d in drops if d["dropped_buckets"] > 0} == fires, drops
    if knobs.get("max_bucket_size") == 1:
        assert n_pairs == 0


def test_checkpoint_resume_validates_data(spark, corpus, cfg, tmp_path):
    """A manifest that survives a corrupted/partial data dir must NOT be
    resumed: the stage recomputes (trust-but-verify on _SUCCESS + row
    count)."""
    import shutil
    from pathlib import Path

    ck = tmp_path / "ck"
    run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=str(ck), with_golden=False)

    # corrupt the signatures snapshot: delete data files, keep the manifest
    data_dir = ck / "signatures" / "data"
    assert (data_dir / "_SUCCESS").exists()
    shutil.rmtree(data_dir)
    (ck / "signatures" / "data").mkdir()

    out = run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=str(ck), with_golden=False)
    ev = {e["stage"]: e["action"] for e in out["_checkpointer"].events}
    assert ev["signatures"] == "computed"  # not resumed from the bad snapshot
    # downstream stages with intact snapshots still resume
    assert ev["clusters"] == "resumed"
    assert Path(data_dir, "_SUCCESS").exists()  # snapshot rebuilt

    # harsher variant: _SUCCESS survives but every part file is gone —
    # the read/count raises, which must fall through to recompute, not
    # wedge the run
    for f in data_dir.iterdir():
        if f.name != "_SUCCESS" and f.is_file():
            f.unlink()
        elif f.is_dir():
            shutil.rmtree(f)
    out = run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=str(ck), with_golden=False)
    ev = {e["stage"]: e["action"] for e in out["_checkpointer"].events}
    assert ev["signatures"] == "computed"


def _clusters_checksum(clusters) -> tuple[int, int]:
    row = clusters.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("url", "gid").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def test_footer_check_recomputes_lost_and_truncated_files(spark, corpus, cfg, tmp_path):
    """Resume trusts a snapshot only when its parquet footers add up to the
    manifest's row count: a deleted partition file of signatures, then a
    truncated file of candidates, each log invalid_snapshot and recompute
    that stage alone, and the clusters match the cold run's."""
    ck = tmp_path / "ck"

    def run():
        out = run_dedup(
            spark, corpus["pages"], cfg, checkpoint_dir=str(ck), with_golden=False
        )
        ev = [(e["stage"], e["action"]) for e in out["_checkpointer"].events]
        return _clusters_checksum(out["clusters"]), ev

    cold, _ = run()
    stages = ["signatures", "candidates", "features", "decisions", "clusters"]

    def expected(bad):
        return [
            a
            for s in stages
            for a in (
                [(s, "invalid_snapshot"), (s, "computed")] if s == bad else [(s, "resumed")]
            )
        ]

    lost = next((ck / "signatures" / "data").glob("part=*/*.parquet"))
    lost.unlink()
    got, ev = run()
    assert ev == expected("signatures")
    assert got == cold

    cut = next((ck / "candidates" / "data").glob("part=*/*.parquet"))
    cut.write_bytes(cut.read_bytes()[: cut.stat().st_size // 2])
    got, ev = run()
    assert ev == expected("candidates")
    assert got == cold


def test_ml_decision_path_recall(spark, corpus, cfg):
    """The reference flagship's learned path (pruningpipe.py:59-135 +
    explore/explorer.py:8-172): question-loop label budget -> GBT ->
    assembly.  Must reach the same >= 0.99 recall as the rule path on the
    planted truth, with labels drawn ONLY from the question budget."""
    out = run_dedup(
        spark,
        corpus["pages"],
        cfg,
        decision="ml",
        truth_pairs=corpus["truth_pairs"].select("url_a", "url_b"),
        n_questions=25,
    )
    pred = pairs_from_clusters(out["clusters"])
    m = pair_metrics(pred, corpus["truth_pairs"].select("url_a", "url_b"))
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.90, m


def test_ml_assembly_semantics(spark, corpus, cfg):
    """PruningPipe assembly oracle: in the decided table, every triage-0
    pair is 0, every triage-2 pair is 1, and mixed pairs equal the
    classifier prediction (pruningpipe.py:128-135)."""
    out = run_dedup(
        spark,
        corpus["pages"],
        cfg,
        decision="ml",
        truth_pairs=corpus["truth_pairs"].select("url_a", "url_b"),
        n_questions=25,
    )
    d = out["decisions"]
    assert d.where((F.col("triage") == 0) & (F.col("is_dup") != 0)).count() == 0
    assert d.where((F.col("triage") == 2) & (F.col("is_dup") != 1)).count() == 0
    assert (
        d.where((F.col("triage") == 1) & (F.col("is_dup") != F.col("y_pred"))).count()
        == 0
    )
