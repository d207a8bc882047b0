"""Question sampling + incremental (streaming) dedup tests."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from webdedup.config import DedupConfig
from webdedup.metrics import classification_metrics
from webdedup.normalize import id_to_str, remove_stopwords, strip_suffix, tokens
from webdedup.questions import hard_questions, label_budget_union, simple_questions


def _pairs(spark, n_per_cluster=10, clusters=3):
    rows = [
        {"url_a": f"a{c}_{i}", "url_b": f"b{c}_{i}", "cluster": c}
        for c in range(clusters)
        for i in range(n_per_cluster)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_simple_questions_bounded_and_deterministic(spark):
    pairs = _pairs(spark)
    got1 = simple_questions(pairs, 4).collect()
    got2 = simple_questions(pairs.repartition(7), 4).collect()
    assert len(got1) == 12  # 3 clusters x 4
    assert sorted((r["url_a"], r["url_b"]) for r in got1) == sorted(
        (r["url_a"], r["url_b"]) for r in got2
    )
    per_cluster = {}
    for r in got1:
        per_cluster[r["cluster"]] = per_cluster.get(r["cluster"], 0) + 1
    assert all(v == 4 for v in per_cluster.values())


def test_hard_questions_only_mixed_clusters(spark):
    pairs = _pairs(spark, n_per_cluster=6, clusters=3)
    # cluster 0 labels all 0, cluster 1 mixed, cluster 2 all 1
    label_rows = []
    for c, ys in [(0, [0, 0, 0]), (1, [0, 1, 0]), (2, [1, 1, 1])]:
        for i, y in enumerate(ys):
            label_rows.append({"url_a": f"a{c}_{i}", "url_b": f"b{c}_{i}", "y_true": y})
    labels = spark.createDataFrame(pd.DataFrame(label_rows))
    got = hard_questions(pairs, labels, 3).collect()
    assert len(got) == 3
    assert all(r["cluster"] == 1 for r in got)
    union = label_budget_union(simple_questions(pairs, 2), hard_questions(pairs, labels, 3))
    assert union.count() <= 9


def test_hard_questions_add_fresh_pairs(spark):
    """The hard round must spend budget on pairs the simple round did NOT
    already take: both rounds rank by the same deterministic hash, so
    without the labeled-pair anti-join the union would equal the simple
    sample (the active-learning round would add zero labels)."""
    pairs = _pairs(spark, n_per_cluster=6, clusters=3)
    n = 2
    simple = simple_questions(pairs, n, seed=42)
    # label the simple sample so cluster 1 comes out mixed
    rows = simple.where(F.col("cluster") == 1).collect()
    label_rows = [
        {"url_a": r["url_a"], "url_b": r["url_b"], "y_true": i % 2}
        for i, r in enumerate(rows)
    ]
    labels = spark.createDataFrame(pd.DataFrame(label_rows))
    hard = hard_questions(pairs, labels, n, seed=42)
    simple_keys = {(r["url_a"], r["url_b"]) for r in simple.collect()}
    labeled_keys = {(d["url_a"], d["url_b"]) for d in label_rows}
    hard_keys = {(r["url_a"], r["url_b"]) for r in hard.collect()}
    assert hard_keys, "hard round sampled nothing"
    assert not hard_keys & labeled_keys, "hard round re-picked labeled pairs"
    assert label_budget_union(simple, hard).count() > len(simple_keys)


def test_id_to_str(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": ["007-42.0", "1.0", "#N/A", "A/B 3", "000"]})
    )
    got = [r[0] for r in df.select(id_to_str(F.col("id"))).collect()]
    assert got[0] == "742"      # strip .0, separators, leading zeros
    assert got[1] == "1"
    assert got[2] is None       # NA sentinel
    assert got[3] == "AB3"
    assert got[4] == "0"        # keeps a single zero
    padded = [r[0] for r in df.select(id_to_str(F.col("id"), zfill=5)).collect()]
    assert padded[0] == "00742"


def test_remove_stopwords_and_strip_suffix(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": ["the quick gmbh"]}))
    toks = df.select(remove_stopwords(tokens(F.col("s")), ["the", "a"])).first()[0]
    assert toks == ["quick", "gmbh"]
    stripped = df.select(strip_suffix(F.col("s"), [" gmbh", " ltd"])).first()[0]
    assert stripped == "the quick"


def test_classification_metrics(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"is_dup": [1, 1, 0, 0, 1], "y_true": [1, 0, 0, 1, 1]})
    )
    m = classification_metrics(df)
    assert m["tp"] == 2 and m["fp"] == 1 and m["fn"] == 1 and m["tn"] == 1
    assert m["precision"] == pytest.approx(2 / 3)
    assert m["recall"] == pytest.approx(2 / 3)
    assert m["balanced_accuracy"] == pytest.approx((2 / 3 + 1 / 2) / 2)


def test_incremental_dedup_batches(spark, tmp_path):
    """launchdedupe semantics: batch 2 records join groups founded by batch 1;
    unmatched records found their own groups."""
    from webdedup.streaming import process_batch, read_state
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, truth_clusters = generate_pages(n_docs=120, seed=5)
    sdf = pages_to_spark(spark, pages_pd)
    state_dir = str(tmp_path / "state")

    # split by row parity on url hash (stable, mixes clusters across batches)
    b1 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    a1 = process_batch(spark, b1, state_dir, cfg)
    a1.count()
    a2 = process_batch(spark, b2, state_dir, cfg)
    a2.count()

    state = read_state(spark, state_dir)
    assert state.count() == 120  # every record assigned exactly once

    # exact duplicates split across batches must land in the same group
    texts = {r["url"]: r["text"] for r in sdf.select("url", "text").collect()}
    gids = {r["url"]: r["gid"] for r in state.select("url", "gid").collect()}
    by_text = {}
    for url, text in texts.items():
        by_text.setdefault(text, []).append(url)
    for urls in by_text.values():
        if len(urls) > 1:
            assert len({gids[u] for u in urls}) == 1, urls


def test_incremental_epoch_replay_idempotent(spark, tmp_path):
    """foreachBatch replay contract: re-running the SAME batch with the same
    epoch_id (crash between state write and stream-checkpoint commit) must
    leave state row count and assignments unchanged — state is keyed by
    epoch, not appended."""
    from webdedup.streaming import process_batch, read_state
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=80, seed=7)
    sdf = pages_to_spark(spark, pages_pd)
    state_dir = str(tmp_path / "state")

    b1 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    n1 = b1.count()
    process_batch(spark, b1, state_dir, cfg, epoch_id=0).count()
    a2_first = {
        (r["url"], r["gid"])
        for r in process_batch(spark, b2, state_dir, cfg, epoch_id=1).collect()
    }
    total = read_state(spark, state_dir).count()

    # replay epoch 1 (same batch, same epoch id)
    a2_replay = {
        (r["url"], r["gid"])
        for r in process_batch(spark, b2, state_dir, cfg, epoch_id=1).collect()
    }
    assert a2_replay == a2_first
    assert read_state(spark, state_dir).count() == total
    # epoch isolation: reading below epoch 1 sees only batch 1
    assert read_state(spark, state_dir, before_epoch=1).count() == n1


def test_incremental_stream_driver(spark, tmp_path):
    """The Structured Streaming wrapper: file source + foreachBatch, two
    parquet files -> two batches, same state semantics."""
    from webdedup.streaming import read_state, run_incremental
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=60, seed=6)
    sdf = pages_to_spark(spark, pages_pd)
    src = tmp_path / "src"
    sdf.limit(30).coalesce(1).write.mode("append").parquet(str(src))
    state_dir = str(tmp_path / "state")

    q = run_incremental(spark, str(src), state_dir, cfg)
    q.awaitTermination(120)
    assert read_state(spark, state_dir).count() == 30


def test_stream_after_batch_state_preserves_epochs(spark, tmp_path):
    """A FRESH stream checkpoint (batchId restarting at 0) must not
    overwrite epochs already committed by batch-mode process_batch, and
    must match new rows against that prior state (epoch base pinned
    alongside the checkpoint)."""
    from webdedup.streaming import (
        _committed_epochs,
        process_batch,
        read_state,
        run_incremental,
    )
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=60, seed=6)
    sdf = pages_to_spark(spark, pages_pd)
    state_dir = str(tmp_path / "state")

    # batch mode commits epoch 0
    process_batch(spark, sdf.limit(30), state_dir, cfg).count()
    batch_state = {
        (r["url"], r["gid"])
        for r in read_state(spark, state_dir).select("url", "gid").collect()
    }
    assert _committed_epochs(state_dir) == [0]

    # fresh stream on the same state_dir: its batchId 0 must land on epoch 1
    src = tmp_path / "src"
    sdf.coalesce(1).write.mode("append").parquet(str(src))
    q = run_incremental(spark, str(src), state_dir, cfg)
    q.awaitTermination(120)

    assert _committed_epochs(state_dir) == [0, 1]
    state = read_state(spark, state_dir)
    # epoch 0 rows survive byte-identically; stream rows for the same urls
    # live in epoch 1 (the stream re-saw all 60), so total = 30 + 60
    assert state.count() == 90
    epoch0 = {
        (r["url"], r["gid"])
        for r in read_state(spark, state_dir, before_epoch=1)
        .select("url", "gid")
        .collect()
    }
    assert epoch0 == batch_state


def test_flat_state_layout_rejected(spark, tmp_path):
    """Pre-epoch flat state files must raise, not be silently ignored."""
    import pytest

    from webdedup.streaming import process_batch
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=20, seed=6)
    sdf = pages_to_spark(spark, pages_pd)
    state_dir = str(tmp_path / "state")
    # simulate the old append-mode layout: parquet directly under state/
    sdf.limit(5).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "state" / "state")
    )
    with pytest.raises(ValueError, match="flat"):
        process_batch(spark, sdf, state_dir, cfg).count()


def test_stateful_exact_dedup(spark, tmp_path):
    """applyInPandasWithState exact dedup: keyed state survives across
    microbatches (a later batch's duplicate joins the FIRST batch's group),
    uniques found their own groups, restart with the same checkpoint is a
    no-op."""
    from webdedup.streaming import run_exact_dedup_stream
    from webdedup.synth import pages_spark_schema

    schema = pages_spark_schema()
    src = tmp_path / "src"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    mk = lambda u, t: (u, ts, t.encode(), t, "en")
    write_batch([mk("u1", "same text"), mk("u2", "same text"),
                 mk("u5", "other text")], "b1")
    write_batch([mk("u3", "same text"), mk("u4", "fresh text")], "b2")

    out = tmp_path / "out"
    q = run_exact_dedup_stream(spark, str(src), str(out))
    q.awaitTermination(120)

    got = {r["url"]: r["gid"] for r in
           spark.read.parquet(str(out / "assignments")).collect()}
    assert len(got) == 5
    # all three "same text" urls share one gid, founded by u1 or u2
    # (file-batch order decides which of the first batch's urls is min —
    # within one batch the min url is the founder)
    assert got["u1"] == got["u2"] == got["u3"]
    assert got["u1"] in ("u1", "u2")
    assert got["u4"] == "u4" and got["u5"] == "u5"

    # restart on the same checkpoint: no new input -> no new rows
    n_before = spark.read.parquet(str(out / "assignments")).count()
    q2 = run_exact_dedup_stream(spark, str(src), str(out))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out / "assignments")).count() == n_before


def test_windowed_stream_watermark(spark, tmp_path):
    """Watermarked tumbling-window agg in append mode: a row later than the
    watermark is DROPPED (the closed window's emitted count excludes it),
    closed windows emit exactly once, open windows don't emit."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from webdedup.streaming import windowed_event_counts

    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "src"
    os.makedirs(src)

    def write(name, minutes, mtime):
        t = pa.table(
            {
                "ts": pa.array(
                    [base + dt.timedelta(minutes=m) for m in minutes],
                    pa.timestamp("us"),
                ),
                "event_type": pa.array(["click"] * len(minutes)),
                "value": pa.array([1.0] * len(minutes)),
            }
        )
        p = str(src / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))  # file source orders batches by mtime

    write("b1.parquet", [5, 20, 70, 130], 1_000_000)   # windows 0,0,1,2
    # watermark semantics lag one batch: the watermark COMMITTED after
    # batch N (max event time - 1h) is the late-row filter for batch N+1,
    # and windows are emitted/evicted at the END of the batch that commits
    # a watermark past their end.  So: b2 closes window 0 (committed wm
    # after b1 = 2:10-1h = 1:10 > 1:00); the minute-10 row in b3 is then
    # genuinely late (filter wm 1:10) and must be DROPPED.
    write("b2.parquet", [135], 1_000_010)               # window 2
    write("b3.parquet", [10, 250], 1_000_020)           # late + window 4
    write("b4.parquet", [600], 1_000_030)               # advances watermark

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = windowed_event_counts(stream, watermark="1 hour")
    q = (
        agg.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = {
        r["window_start"]: r["n_events"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    h = lambda x: base + dt.timedelta(hours=x)  # noqa: E731
    assert rows[h(0)] == 2          # late minute-10 row NOT counted
    assert rows[h(1)] == 1
    assert rows[h(2)] == 2          # minutes 130 + 135
    assert h(10) not in rows        # still-open window never emitted


def test_band_key_index_matches_legacy_explode(spark, tmp_path):
    """The band-key-index match must match exactly what a full-state
    explode join matches — the index is a pure access-path change; the
    explode join is the oracle.  State that no index covers (an epoch's
    index commit marker deleted) raises."""
    from webdedup import streaming as st
    from webdedup.features import jaccard_sketch
    from webdedup.signatures import compute_signatures
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=120, seed=11)
    sdf = pages_to_spark(spark, pages_pd)
    b1 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = sdf.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    state_dir = str(tmp_path / "state")
    st.process_batch(spark, b1, state_dir, cfg, epoch_id=0).count()

    sigs = compute_signatures(b2, cfg)
    cov = st._index_coverage(state_dir, [0])
    indexed = st._match_against_index(spark, sigs, state_dir, cov, cfg)

    b = sigs.select(
        "url", "shingles", F.posexplode("bands").alias("key_idx", "key_hash")
    )
    r = st.read_state(spark, state_dir).select(
        F.col("gid").alias("ref_gid"),
        F.col("shingles").alias("ref_shingles"),
        F.posexplode("bands").alias("key_idx", "key_hash"),
    )
    explode = (
        b.join(r, ["key_idx", "key_hash"])
        .where(
            jaccard_sketch(F.col("shingles"), F.col("ref_shingles"), cfg.shingle_sketch_k)
            >= cfg.jaccard_threshold
        )
        .groupBy("url")
        .agg(F.min("ref_gid").alias("gid"))
    )
    rows = lambda df: {(x["url"], x["gid"]) for x in df.collect()}  # noqa: E731
    assert rows(indexed) == rows(explode)
    assert rows(indexed)  # the batch does match state

    st.process_batch(spark, b2, state_dir, cfg, epoch_id=1).count()
    # the index artifacts exist for committed epochs
    assert (st._index_path(state_dir) / "epoch=0" / "_SUCCESS").exists()
    assert (st._index_path(state_dir) / "epoch=1" / "_SUCCESS").exists()
    (st._index_path(state_dir) / "epoch=0" / "_SUCCESS").unlink()
    with pytest.raises(ValueError, match=r"covers committed epochs \[0\]"):
        st.process_batch(spark, b2, state_dir, cfg, epoch_id=1)


def test_zero_collision_batch_founds_only_new_groups(spark, tmp_path, jobs_submitted):
    """A batch sharing no band key with state goes through the band-key
    index match once, finds no candidate, and founds only new groups
    (gid == url).  Jobs: 26 with the Bloom prefilter and its partition
    collect, 23 without."""
    from webdedup import streaming as st
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=60, seed=13)
    # batch 2 texts are unrelated random sentences: share no 5-shingle
    import pandas as pd

    other = pd.DataFrame(
        {
            "url": [f"https://other.example/{i}" for i in range(20)],
            "warc_ts": pages_pd["warc_ts"].iloc[:20].values,
            "html": pages_pd["html"].iloc[:20].values,
            "text": [
                " ".join(f"zq{i}w{j}token" for j in range(40)) for i in range(20)
            ],
            "lang": ["en"] * 20,
        }
    )
    state_dir = str(tmp_path / "state")
    process_batch = st.process_batch
    process_batch(
        spark, pages_to_spark(spark, pages_pd), state_dir, cfg, epoch_id=0
    ).count()

    calls = {"reads": 0}
    real_reader = st._match_against_index

    def counting(*args):
        out = real_reader(*args)
        calls["reads"] += 1
        return out

    st._match_against_index = counting
    try:
        batch, n = jobs_submitted(
            "pin-zero-collision-batch",
            lambda: process_batch(
                spark, pages_to_spark(spark, other), state_dir, cfg, epoch_id=1
            ),
        )
    finally:
        st._match_against_index = real_reader
    assigned = batch.collect()
    st.release_batch(batch)
    assert calls["reads"] == 1  # index path taken
    assert n <= 23, n
    assert all(r["gid"] == r["url"] for r in assigned)


def test_compact_index_preserves_assignments_and_replay(spark, tmp_path):
    """compact_index merges per-epoch band-key indexes into one artifact
    without changing any future assignment, and covers only epochs below
    the last committed one so a replay of the newest epoch stays
    idempotent (a replayed epoch must never find its own rows pre-merged
    into its reference index)."""
    from webdedup.streaming import _index_path, compact_index, process_batch
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=160, seed=17)
    sdf = pages_to_spark(spark, pages_pd)
    batches = [
        sdf.where(F.pmod(F.xxhash64("url"), F.lit(4)) == i) for i in range(4)
    ]

    def drive(state_dir: str, compact_after: int | None) -> set:
        out = set()
        for e, b in enumerate(batches):
            if compact_after is not None and e == compact_after:
                compact_index(spark, state_dir)
            rows = process_batch(spark, b, state_dir, cfg, epoch_id=e).collect()
            out |= {(r["url"], r["gid"]) for r in rows}
        return out

    plain = drive(str(tmp_path / "plain"), compact_after=None)
    compacted_dir = str(tmp_path / "compacted")
    compacted = drive(compacted_dir, compact_after=3)
    assert plain == compacted

    # artifact shape after compacting epochs 0..2 (high-water = 1 when run
    # before epoch 3: covers committed epochs 0,1,2 minus the newest -> 1)
    root = _index_path(compacted_dir)
    assert (root / "merged=1" / "_SUCCESS").exists()
    assert not (root / "epoch=0").exists()
    assert not (root / "epoch=1").exists()
    assert (root / "epoch=2" / "_SUCCESS").exists()  # newest-at-compaction kept

    # replay the newest epoch (3) on the compacted dir: identical output
    first = {
        (r["url"], r["gid"])
        for r in process_batch(spark, batches[3], compacted_dir, cfg, epoch_id=3).collect()
    }
    assert first <= compacted
    again = compact_index(spark, compacted_dir)
    assert again == 2  # now epochs 0..2 are compactable
    replay = {
        (r["url"], r["gid"])
        for r in process_batch(spark, batches[3], compacted_dir, cfg, epoch_id=3).collect()
    }
    assert replay == first
    assert (root / "epoch=3" / "_SUCCESS").exists()


def test_stream_driver_auto_compacts(spark, tmp_path):
    """run_incremental(compact_every=2) folds older epoch indexes into a
    merged artifact mid-stream; assignments equal a never-compacting run."""
    from webdedup.streaming import (
        _index_path,
        _merged_high_water,
        read_state,
        run_incremental,
    )
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=120, seed=11)
    sdf = pages_to_spark(spark, pages_pd)

    def drive(tag: str, compact_every: int) -> set:
        src = tmp_path / f"src_{tag}"
        for i in range(4):
            sdf.where(F.pmod(F.xxhash64("url"), F.lit(4)) == i).coalesce(
                1
            ).write.mode("append").parquet(str(src / f"f{i}"))
        state_dir = str(tmp_path / f"state_{tag}")
        # one file per trigger -> 4 batches
        q = run_incremental(
            spark, str(src / "*"), state_dir, cfg, compact_every=compact_every
        )
        q.awaitTermination(240)
        return state_dir

    plain_dir = drive("plain", compact_every=0)
    auto_dir = drive("auto", compact_every=2)
    plain = {
        (r["url"], r["gid"])
        for r in read_state(spark, plain_dir).select("url", "gid").collect()
    }
    auto = {
        (r["url"], r["gid"])
        for r in read_state(spark, auto_dir).select("url", "gid").collect()
    }
    assert plain == auto
    assert _merged_high_water(plain_dir) is None
    high = _merged_high_water(auto_dir)
    assert high is not None
    assert not (_index_path(auto_dir) / "epoch=0" / "_SUCCESS").exists()


def test_compact_index_sweeps_crash_orphans(spark, tmp_path):
    """A crash between the merged write and the cleanup leaves per-epoch
    dirs the merged artifact covers; the next compact_index call (even when
    'already compact') must sweep them."""
    import shutil

    from webdedup.streaming import _index_path, compact_index, process_batch
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    pages_pd, _, _ = generate_pages(n_docs=90, seed=13)
    sdf = pages_to_spark(spark, pages_pd)
    state_dir = str(tmp_path / "state")
    for e in range(3):
        b = sdf.where(F.pmod(F.xxhash64("url"), F.lit(3)) == e)
        process_batch(spark, b, state_dir, cfg, epoch_id=e).count()
    assert compact_index(spark, state_dir) == 1
    root = _index_path(state_dir)
    # simulate the crash leftovers: a covered epoch dir reappears
    (root / "epoch=0").mkdir()
    (root / "epoch=0" / "_SUCCESS").touch()
    # nothing new to merge -> early 'already compact' path must still sweep
    assert compact_index(spark, state_dir) == 1
    assert not (root / "epoch=0").exists()
    shutil.rmtree(state_dir)


def test_compact_index_bounds_dirs_at_many_epochs(spark, tmp_path):
    """Log-structured maintenance at realistic epoch counts (~50): with a
    small compact_every the per-batch index fan-in stays bounded — one
    merged artifact plus a short tail — while every assignment is identical
    to a never-compacting drive of the same batches."""
    from webdedup.streaming import _index_path, compact_index, process_batch
    from webdedup.synth import generate_pages, pages_to_spark

    cfg = DedupConfig()
    n_epochs, compact_every = 48, 4
    pages_pd, _, _ = generate_pages(n_docs=960, seed=23)
    sdf = pages_to_spark(spark, pages_pd).cache()
    batches = [
        sdf.where(F.pmod(F.xxhash64("url"), F.lit(n_epochs)) == e)
        for e in range(n_epochs)
    ]

    def drive(state_dir: str, compact: bool) -> tuple[dict, int]:
        out: dict = {}
        max_dirs = 0
        for e, b in enumerate(batches):
            for r in process_batch(spark, b, state_dir, cfg, epoch_id=e).collect():
                out[r["url"]] = r["gid"]
            if compact:
                compact_index(spark, state_dir, min_tail=compact_every)
                root = _index_path(state_dir)
                max_dirs = max(
                    max_dirs, sum(1 for p in root.iterdir() if p.is_dir())
                )
        return out, max_dirs

    plain, _ = drive(str(tmp_path / "plain"), compact=False)
    compacted, max_dirs = drive(str(tmp_path / "compacted"), compact=True)
    sdf.unpersist()
    assert plain == compacted
    assert len(plain) == 960

    # bounded probe fan-in: <= 1 merged artifact + (compact_every-1) tail
    # dirs at the trigger + the newest (uncompactable) epoch + slack for the
    # pre-merge peak — vs 48 dirs uncompacted
    assert max_dirs <= compact_every + 3, max_dirs
    root = _index_path(str(tmp_path / "compacted"))
    merged = [p.name for p in root.iterdir() if p.name.startswith("merged=")]
    assert len(merged) == 1  # older merged artifacts are swept, never leak
