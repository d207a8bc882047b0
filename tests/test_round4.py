"""Round-4 surface: keep-best keeper policy in run_dedup (+ resume), ml-path
decision attribution in the stage manifest, auto-scaled IVF cell counts, and
driver-query cache hygiene."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webdedup.cluster import default_keeper_score, keep_best
from webdedup.config import DedupConfig
from webdedup.pipeline import run_dedup


# ---------------------------------------------------------------------------
# keep_best argument surface (ADVICE r3)
# ---------------------------------------------------------------------------

def test_keep_best_gid_col_and_validation(spark):
    df = spark.createDataFrame(
        [("g1", "a", 2.0), ("g1", "b", 3.0), ("g2", "c", 1.0)],
        "grp string, url string, score double",
    )
    got = {
        r["url"]
        for r in keep_best(df, "score", gid_col="grp").collect()
    }
    assert got == {"b", "c"}

    with pytest.raises(ValueError, match="missing column"):
        keep_best(df, "score")  # no 'gid' column
    with pytest.raises(ValueError, match="missing column"):
        keep_best(df, "nope", gid_col="grp")
    with pytest.raises(ValueError, match="_rn"):
        keep_best(df.withColumn("_rn", F.lit(1)), "score", gid_col="grp")


def test_default_keeper_score_explicit_whitespace(spark):
    # \x0B (vertical tab) is \s in Java but NOT in RE2/DuckDB — the explicit
    # class treats it as a token character on both engines
    df = spark.createDataFrame([("a b\x0bc a",)], "text string")
    score = df.select(default_keeper_score("text").alias("s")).first()["s"]
    # tokens: [a, b\x0bc, a] -> 2 distinct / 3
    assert score == round(2 / 3, 6)


# ---------------------------------------------------------------------------
# keeper='best' wired into run_dedup (+ checkpoint resume)
# ---------------------------------------------------------------------------

def test_run_dedup_keeper_best_one_per_gid(spark, corpus, cfg):
    out = run_dedup(spark, corpus["pages"], cfg, keeper="best")
    assert "keepers" in out and "golden" not in out
    keepers = out["keepers"]
    assert keepers.columns == ["url", "gid", "keeper_score"]
    n_gids = out["clusters"].select("gid").distinct().count()
    assert keepers.count() == n_gids
    assert keepers.select("gid").distinct().count() == n_gids
    # every keeper is a member of its own cluster
    bad = keepers.join(out["clusters"], ["url", "gid"], "left_anti").count()
    assert bad == 0


def test_run_dedup_keeper_validation(spark, corpus, cfg):
    with pytest.raises(ValueError, match="keeper"):
        run_dedup(spark, corpus["pages"], cfg, keeper="bogus")


def test_keeper_stage_resume(spark, corpus, cfg, tmp_path):
    ck = str(tmp_path / "ck")
    out1 = run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=ck, keeper="best")
    n1 = out1["keepers"].count()
    ev1 = {e["stage"]: e["action"] for e in out1["_checkpointer"].events}
    assert ev1["keepers"] == "computed"

    out2 = run_dedup(spark, corpus["pages"], cfg, checkpoint_dir=ck, keeper="best")
    ev2 = {e["stage"]: e["action"] for e in out2["_checkpointer"].events}
    assert ev2["keepers"] == "resumed"
    assert out2["keepers"].count() == n1

    # a different score expression is a different stage identity
    out3 = run_dedup(
        spark,
        corpus["pages"],
        cfg,
        checkpoint_dir=ck,
        keeper="best",
        keeper_score=F.length("text").cast("double"),
    )
    ev3 = {e["stage"]: e["action"] for e in out3["_checkpointer"].events}
    assert ev3["keepers"] == "computed"
    assert ev3["clusters"] == "resumed"  # upstream untouched


# ---------------------------------------------------------------------------
# ml-path decisions keep the attribution manifest (VERDICT r3 #2)
# ---------------------------------------------------------------------------

def test_ml_decisions_manifest_attribution(spark, corpus, cfg, tmp_path):
    ck = str(tmp_path / "ck_ml")
    out = run_dedup(
        spark,
        corpus["pages"],
        cfg,
        checkpoint_dir=ck,
        with_golden=False,
        decision="ml",
        truth_pairs=corpus["truth_pairs"].select("url_a", "url_b"),
        n_questions=25,
    )
    dman = out["_checkpointer"].manifest("decisions")
    m = dman["metrics"]
    assert m["decision"] == "ml"
    assert m["n_questions"] == 25
    assert m["cross_validate"] is False
    by_method = m["positive_pairs_by_method"]
    assert sum(by_method.values()) > 0
    assert set(by_method) <= {"minhash", "simhash", "exact", "substring"}


# ---------------------------------------------------------------------------
# auto-scaled IVF cell count (VERDICT r3 #4)
# ---------------------------------------------------------------------------

def test_auto_n_cells_growth():
    from webdedup.ann import auto_n_cells

    assert auto_n_cells(1_000) == 16  # floor
    assert auto_n_cells(80_000) == 16
    assert auto_n_cells(1_000_000) == 200
    assert auto_n_cells(10_000_000) == 2000
    assert auto_n_cells(1_000_000, docs_per_cell=1000) == 1000


def test_ivf_default_cells_match_explicit_floor(spark):
    """At small N the derived default equals the old floor (16), so the
    portable path's oracle parity is unchanged; the derived count is also
    visible in the built index."""
    import numpy as np

    from webdedup.ann import auto_n_cells, ivf_build
    from webdedup.scope import Scope
    from webdedup.semantic import semantic_dedup

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    idx_auto, cents_auto, _ = ivf_build(corpus, None, centroids="portable")
    idx_16, cents_16, _ = ivf_build(corpus, 16, centroids="portable")
    assert auto_n_cells(300) == 16
    assert cents_auto.shape == cents_16.shape
    assert (cents_auto == cents_16).all()
    a = {(r["neighbor_id"], r["cell"]) for r in idx_auto.collect()}
    b = {(r["neighbor_id"], r["cell"]) for r in idx_16.collect()}
    assert a == b

    with Scope() as scope:
        out_auto, _ = semantic_dedup(
            corpus, tau=0.45, centroids="portable", scope=scope
        )
        out_16, _ = semantic_dedup(
            corpus, tau=0.45, n_cells=16, centroids="portable", scope=scope
        )
        ga = {(r["id"], r["gid"]) for r in out_auto.collect()}
        gb = {(r["id"], r["gid"]) for r in out_16.collect()}
    assert ga == gb


# ---------------------------------------------------------------------------
# driver queries release their caches (VERDICT r3 #8)
# ---------------------------------------------------------------------------

def test_driver_queries_release_caches(spark, tmp_path):
    """Pipeline-backed driver queries must not leave session-lifetime
    DataFrame caches behind: after materializing the result, the
    CacheManager is empty (the result itself survives only as bounded
    localCheckpoint blocks, which is what serves the driver's collect)."""
    import __spark_entry__ as em
    from webdedup.synth import generate_pages

    pages_pd, _, _ = generate_pages(n_docs=120, seed=11)
    docs = spark.createDataFrame(
        [
            (i, t, lang)
            for i, (t, lang) in enumerate(zip(pages_pd["text"], pages_pd["lang"]))
        ],
        "doc_id bigint, text string, lang string",
    )
    out_dir = str(tmp_path / "docs")
    docs.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    spark.catalog.clearCache()  # isolate from other tests' session caches
    qs = em.queries()
    for name in ("minhash_clusters", "cluster_keepers", "explain_scores"):
        res = qs[name](spark, out_dir)
        assert res.count() >= 0
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty(), f"{name} left DataFrame caches behind"
