"""Round-5 surface: scoped CC-checkpoint ownership + storage-block
regression tests (ADVICE r4 medium + VERDICT r4 #1/#3), the warn-once
release-drift signal, per-batch streaming block release, the Checkpointer
table-format swap-in seam (+ Iceberg drill, skipped offline), and the
repr-independent keeper stage identity."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from webdedup import cluster, scope
from webdedup.checkpoint import Checkpointer
from webdedup.config import DedupConfig
from webdedup.scope import Scope


def _storage_ids(spark) -> set[int]:
    """ids of RDDs currently holding storage blocks (JVM RDDStorageInfo)."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


# ---------------------------------------------------------------------------
# CC checkpoint blocks actually leave storage on release (VERDICT r4 #1/#3):
# the release reflects through a private plan accessor inside a try/except,
# so without this test a Spark plan-shape change would silently re-leak.
# ---------------------------------------------------------------------------

def test_cc_release_frees_storage_blocks(spark):
    edges = spark.createDataFrame(
        [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(60)],
        "url_a string, url_b string",
    )
    before = _storage_ids(spark)
    handles = Scope()
    comp = cluster.connected_components(edges, scope=handles)
    assert comp.count() == 61
    assert handles, "result retained no checkpoint handle"
    assert _storage_ids(spark) - before, "no storage blocks were created"
    handles.close()
    leaked = _storage_ids(spark) - before
    assert not leaked, f"star-forest blocks leaked after release: {leaked}"
    assert not handles  # scope drained


def test_cc_scoped_registries_are_independent(spark):
    """Releasing one owner's registry must not free another owner's live
    star forest (the ADVICE r4 'block not found' interleaving failure)."""
    e1 = spark.createDataFrame([("a", "b"), ("b", "c")], "url_a string, url_b string")
    e2 = spark.createDataFrame([("x", "y"), ("y", "z")], "url_a string, url_b string")
    h1 = Scope()
    h2 = Scope()
    c1 = cluster.connected_components(e1, scope=h1)
    c2 = cluster.connected_components(e2, scope=h2)
    c1.count()
    h1.close()
    # c2's blocks survive the other owner's release: still fully readable
    got = {r["url"]: r["gid"] for r in c2.collect()}
    assert got == {"x": "x", "y": "x", "z": "x"}
    h2.close()


def test_release_warns_once_on_plan_drift(monkeypatch):
    """A failing block release must WARN (once per session), not silently
    disable all checkpoint hygiene — so accessor drift under a future Spark
    breaks a test instead of quietly re-leaking."""
    monkeypatch.setattr(scope, "_RELEASE_FAILED_ONCE", False)

    class Drifted:
        @property
        def _jdf(self):
            raise AttributeError("plan accessor drift")

    with pytest.warns(RuntimeWarning, match="block release failed"):
        scope._release_local_checkpoint(Drifted())
    # second failure in the same session: silent (warn-once)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        scope._release_local_checkpoint(Drifted())


def test_release_batch_frees_streaming_blocks(spark, tmp_path):
    """process_batch's returned frame is localCheckpoint-backed; once the
    caller consumed it, release_batch must return storage to baseline (one
    leaked block set per micro-batch is the stream-lifetime leak class)."""
    from webdedup.streaming import process_batch, release_batch
    from webdedup.synth import generate_pages, pages_to_spark

    pages_pd, _, _ = generate_pages(n_docs=60, seed=13)
    batch = pages_to_spark(spark, pages_pd, partitions=2)
    before = _storage_ids(spark)
    assigned = process_batch(spark, batch, str(tmp_path / "state"), DedupConfig())
    assert assigned.count() == 60  # consume
    assert _storage_ids(spark) - before, "no batch blocks were created"
    release_batch(assigned)
    leaked = _storage_ids(spark) - before
    assert not leaked, f"micro-batch blocks leaked after release: {leaked}"


# ---------------------------------------------------------------------------
# Checkpointer table-format seam (VERDICT r4 #8)
# ---------------------------------------------------------------------------

def _seam_io(spark, store):
    """A catalog stand-in: stage tables live in a parquet tree OUTSIDE the
    checkpoint root, reached only through the writer/reader seam."""
    def writer(df, stage):
        df.write.mode("overwrite").parquet(str(store / stage))

    def reader(stage):
        return spark.read.parquet(str(store / stage))

    return writer, reader


def test_checkpointer_custom_io_seam(spark, corpus, cfg, tmp_path):
    """compute -> resume -> invalidate, entirely through the swap-in seam:
    the identity/manifest/lineage machinery must be format-agnostic."""
    store = tmp_path / "catalog"
    writer, reader = _seam_io(spark, store)
    pages = corpus["pages"]

    ck = Checkpointer(spark, tmp_path / "ck", cfg, writer=writer, reader=reader)
    out = ck.stage("urls", lambda: pages.select("url"))
    assert out.count() == pages.count()
    assert ck.events[-1] == {"stage": "urls", "action": "computed"}
    # nothing landed in the parquet-emulation layout; the table is the seam's
    assert not (tmp_path / "ck" / "urls" / "data").exists()
    assert (store / "urls" / "_SUCCESS").exists()

    ck2 = Checkpointer(spark, tmp_path / "ck", cfg, writer=writer, reader=reader)
    out2 = ck2.stage("urls", lambda: pytest.fail("must resume, not recompute"))
    assert out2.count() == pages.count()
    assert ck2.events[-1] == {"stage": "urls", "action": "resumed"}

    # a dropped table invalidates the snapshot even though the manifest
    # survived: trust-but-verify reaches through the reader
    import shutil

    shutil.rmtree(store / "urls")
    ck3 = Checkpointer(spark, tmp_path / "ck", cfg, writer=writer, reader=reader)
    out3 = ck3.stage("urls", lambda: pages.select("url"))
    assert out3.count() == pages.count()
    actions = [e["action"] for e in ck3.events]
    assert actions == ["invalid_snapshot", "computed"]


def test_builtin_stage_bookkeeping_submits_no_jobs(
    spark, corpus, cfg, tmp_path, jobs_submitted
):
    """On the built-in layout the manifest rides on the stage's own write: a
    computed stage submits no more jobs than a bare parquet write of the
    same frame, and a resumed stage submits none."""
    frame = corpus["pages"].select(
        "url", "text", F.pmod(F.xxhash64("url"), F.lit(4)).alias("part")
    )
    _, bare = jobs_submitted(
        "pin-bare-write",
        lambda: frame.write.partitionBy("part").parquet(str(tmp_path / "bare")),
    )
    ck = Checkpointer(spark, tmp_path / "ck", cfg)
    _, computed = jobs_submitted(
        "pin-computed-stage",
        lambda: ck.stage("urls", lambda: frame, partition_by=["part"]),
    )
    assert ck.events[-1]["action"] == "computed"
    assert computed <= bare, (computed, bare)
    man = ck.manifest("urls")
    assert man["row_count"] == corpus["pages"].count()
    assert sum(man["partition_counts"].values()) == man["row_count"]

    ck2 = Checkpointer(spark, tmp_path / "ck", cfg)
    out, resumed = jobs_submitted(
        "pin-resumed-stage",
        lambda: ck2.stage("urls", lambda: pytest.fail("must resume, not recompute")),
    )
    assert ck2.events[-1]["action"] == "resumed"
    assert resumed == 0
    assert out.schema.jsonValue() == man["schema"]


def _iceberg_on_classpath(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — any JVM lookup failure means absent
        return False


def test_checkpointer_iceberg_swapin(spark, corpus, cfg, tmp_path):
    """Swap-in readiness drill: the first environment WITH the Iceberg
    runtime jar validates the emulation contract mechanically — the same
    Checkpointer machinery over a real writeTo()/table() catalog path.
    Offline images (this sandbox) skip cleanly."""
    if not _iceberg_on_classpath(spark):
        pytest.skip("Iceberg runtime jar not on the classpath (offline image)")
    spark.conf.set("spark.sql.catalog.drill", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.drill.type", "hadoop")
    spark.conf.set("spark.sql.catalog.drill.warehouse", str(tmp_path / "wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS drill.db")

    def writer(df, stage):
        df.writeTo(f"drill.db.{stage}").createOrReplace()

    def reader(stage):
        return spark.table(f"drill.db.{stage}")

    pages = corpus["pages"]
    ck = Checkpointer(spark, tmp_path / "ck", cfg, writer=writer, reader=reader)
    out = ck.stage("urls", lambda: pages.select("url"))
    assert out.count() == pages.count()
    assert ck.events[-1]["action"] == "computed"

    ck2 = Checkpointer(spark, tmp_path / "ck", cfg, writer=writer, reader=reader)
    out2 = ck2.stage("urls", lambda: pytest.fail("must resume, not recompute"))
    assert out2.count() == pages.count()
    assert ck2.events[-1]["action"] == "resumed"


# ---------------------------------------------------------------------------
# keeper stage identity: canonical SQL, not Column.__repr__ (ADVICE r4 low)
# ---------------------------------------------------------------------------

def test_column_identity_is_canonical_sql(spark):
    from webdedup.cluster import default_keeper_score
    from webdedup.pipeline import _column_identity

    df = spark.createDataFrame([("x y z",)], "text string")
    a = _column_identity(df, default_keeper_score("text"))
    b = _column_identity(df, default_keeper_score("text"))
    assert a == b, "same expression built twice must share an identity"
    assert not a.startswith("Column<"), "identity must not be the repr"
    c = _column_identity(df, F.length("text").cast("double"))
    assert c != a, "different expressions must not share an identity"


# ---------------------------------------------------------------------------
# run_dedup's INTERNAL caches (candidate pruned-key tables, the feature
# stage's doc-side table) are released before it returns: after dropping the
# caller-owned stage persists, nothing remains in the CacheManager.  Guards
# the round-5 persists (candidates.py pruned, features.py docs) against
# silently becoming session-lifetime blocks.
# ---------------------------------------------------------------------------

def test_run_dedup_releases_internal_caches(spark):
    from webdedup.pipeline import run_dedup
    from webdedup.synth import generate_pages, pages_to_spark

    pages_pd, _, _ = generate_pages(n_docs=200, seed=7)
    pages = pages_to_spark(spark, pages_pd, partitions=4)

    spark.catalog.clearCache()  # isolate from other tests' session caches
    out = run_dedup(spark, pages, DedupConfig(), with_golden=False)
    assert out["clusters"].count() == 200
    # the five stage persists are the caller's to release — drop them; what
    # must NOT remain is any cache run_dedup created internally
    for k in ("signatures", "candidates", "features", "decisions", "clusters"):
        out[k].unpersist()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "run_dedup left internal DataFrame caches behind"
