"""Incremental dedup via Structured Streaming foreachBatch.

Maps the reference's `SingleGrouping.launchdedupe` while-loop
(suricate/grouping.py:47-137): batches of unassigned records are matched
against the already-gid-assigned reference set; a record with no match
founds a new group (gid = own id), otherwise it joins the best-matching
group (the reference majority-votes candidate gids, grouping.py:155-169 —
here: the minimum matched gid, deterministic under any arrival order of a
batch).

Spark shape: `readStream -> foreachBatch(process_batch)`; the accumulated
state (url, gid, signature) lives in a parquet state directory (the
streaming equivalent of the pipeline's checkpoint tables), so a killed
stream resumes from the last committed batch — the same resumability story
as the batch engine.

Matching cost: naively, every batch re-explodes ALL accumulated state into
band keys — O(|state| * bands) work per batch, the term that dominates once
state outgrows the batches (the 10^12-doc regime).  process_batch therefore
maintains a per-epoch BAND-KEY INDEX next to the state: the epoch's
(key_idx, key_hash) -> (ref_url, ref_gid) rows, written under
part=pmod(xxhash64(key), 16) directories.  A batch explodes only its own
band keys and joins them with the index; state is read only for the
shingles of the candidate ref urls, which the exact-Jaccard verify needs.
No prefilter sits in front of the join: a per-epoch 2^20-bit Bloom filter
over 42 band keys per doc passes 57% of non-member keys at 10k docs of
state and 99% at 25k, so it stops pruning once state outgrows toy sizes.
compact_index folds older epochs' index dirs into one merged artifact, as
any log-structured table is compacted.  Committed state that no index
covers (an epoch's index dir missing) makes process_batch raise ValueError
naming the state dir and the epochs; it never falls back to exploding all
state.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from webdedup.checkpoint import data_files
from webdedup.config import DedupConfig
from webdedup.features import jaccard_sketch
from webdedup.scope import Scope, free_checkpoint
from webdedup.signatures import compute_signatures

# the band-key index's on-disk layout, part=<pmod(k64, 16)> directories:
# with the k64 column it is the format _INDEX_COLS pins for index dirs
# written earlier, though no read prunes on either any more
_INDEX_PARTS = 16

# the file columns process_batch writes (state) and _write_epoch_index
# writes (index, under part=<k> directories): reads pin them instead of
# paying a schema-inference job per read
_STATE_COLS = "url string, shingles array<bigint>, bands array<bigint>, gid string"
_INDEX_COLS = "ref_url string, ref_gid string, key_idx int, key_hash bigint, k64 bigint"


def _state_path(state_dir: str) -> Path:
    return Path(state_dir) / "state"


def _index_path(state_dir: str) -> Path:
    return Path(state_dir) / "bandkeys"


def _committed_epochs(state_dir: str) -> list[int]:
    p = _state_path(state_dir)
    if p.exists() and any(
        f.suffix == ".parquet" or f.name == "_SUCCESS" for f in p.iterdir()
    ):
        # parquet files directly under state/ are a pre-epoch flat layout;
        # silently globbing only epoch=* would make all prior assignments
        # invisible (every historical duplicate would found a new gid)
        raise ValueError(
            f"{p} holds flat (pre-epoch) state files; expected "
            "state/epoch=<n>/ directories — move the old files into "
            "epoch=0/ (with a _SUCCESS marker) to migrate"
        )
    return sorted(
        int(d.name.split("=", 1)[1])
        for d in p.glob("epoch=*")
        if (d / "_SUCCESS").exists()
    )


def _check_footer(directory: Path, columns: str) -> None:
    """Raise ValueError unless one data file under ``directory`` holds
    exactly ``columns`` (a ``name type, ...`` list).  A pinned read schema
    would turn a missing or retyped column into silent nulls; one footer
    read on the driver (no Spark job) turns it into an error instead.  A
    directory without data files has nothing to misread and passes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def spark_type(t) -> str:
        if pa.types.is_list(t):
            return f"array<{spark_type(t.value_type)}>"
        return {"int64": "bigint", "int32": "int"}.get(str(t), str(t))

    data = next(data_files(directory, "*"), None)
    if data is None:
        return
    expected = dict(c.split(" ", 1) for c in columns.split(", "))
    found = {f.name: spark_type(f.type) for f in pq.read_schema(data)}
    if found != expected:
        raise ValueError(
            f"{directory} does not hold the columns the engine writes: "
            f"expected {expected}, found {found} (in {data.name})"
        )


def read_state(
    spark: SparkSession, state_dir: str, before_epoch: int | None = None
) -> DataFrame | None:
    """Union of all committed epoch snapshots (< before_epoch if given).

    State is one parquet directory PER EPOCH, each with its own _SUCCESS
    commit marker — a crashed/replayed batch can never half-append into an
    already-committed epoch (the epoch-idempotency contract; see
    process_batch).  Uncommitted (markerless) directories are ignored.

    The read schema is pinned to the one process_batch writes (no
    schema-inference job); each epoch directory's footer is checked against
    it first, and a mismatch raises ValueError naming the directory."""
    epochs = _committed_epochs(state_dir)
    if before_epoch is not None:
        epochs = [e for e in epochs if e < before_epoch]
    if not epochs:
        return None
    dirs = [_state_path(state_dir) / f"epoch={e}" for e in epochs]
    for d in dirs:
        _check_footer(d, _STATE_COLS)
    return spark.read.schema(_STATE_COLS).parquet(*map(str, dirs))


def _write_epoch_index(new_state: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Write the epoch's band-key index (an idempotent overwrite, written
    BEFORE the state parquet whose _SUCCESS is the epoch's commit marker,
    so a crash in between leaves an invisible, harmless index dir)."""
    keys = (
        new_state.select(
            F.col("url").alias("ref_url"),
            F.col("gid").alias("ref_gid"),
            F.posexplode("bands").alias("key_idx", "key_hash"),
        )
        .withColumn("k64", F.xxhash64("key_idx", "key_hash"))
        .withColumn("part", F.pmod("k64", F.lit(_INDEX_PARTS)).cast("int"))
    )
    keys.write.mode("overwrite").partitionBy("part").parquet(
        str(_index_path(state_dir) / f"epoch={epoch_id}")
    )


def _merged_high_water(state_dir: str) -> int | None:
    """Highest H for which a compacted index (bandkeys/merged=<H>) has
    landed (its _SUCCESS marker exists), or None."""
    highs = [
        int(d.name.split("=", 1)[1])
        for d in _index_path(state_dir).glob("merged=*")
        if (d / "_SUCCESS").exists()
    ]
    return max(highs) if highs else None


def _index_coverage(
    state_dir: str, epochs: list[int]
) -> tuple[int | None, list[int]] | None:
    """(merged high-water or None, per-epoch tail) covering exactly
    ``epochs`` with index artifacts, or None when coverage is impossible:

      - some tail epoch lacks its index dir (mixed/legacy layout), or
      - the merged artifact OVERREACHES (high > max(epochs)): it folds in
        epochs the caller must not see — e.g. a replayed epoch matching
        against a merge that already contains that epoch's own rows would
        change its reference set and break replay idempotency.

    A replayed epoch <= high-water may have recreated its per-epoch dir;
    that duplication is harmless (index reads are set-semantics — the
    candidate join is distinct) and such dirs are simply not read."""
    high = _merged_high_water(state_dir)
    if high is not None and (not epochs or high > max(epochs)):
        return None
    tail = [e for e in epochs if high is None or e > high]
    for e in tail:
        if not (_index_path(state_dir) / f"epoch={e}" / "_SUCCESS").exists():
            return None
    return (high, tail)


def _index_source_roots(state_dir: str, high: int | None, tail: list[int]) -> list[str]:
    root = _index_path(state_dir)
    return ([str(root / f"merged={high}")] if high is not None else []) + [
        str(root / f"epoch={e}") for e in tail
    ]


def _read_index(
    spark: SparkSession, state_dir: str, high: int | None, tail: list[int]
) -> DataFrame:
    """The band-key index rows covered by (high, tail) — one read per source
    root (a single multi-root read would try to reconcile the merged=/epoch=
    directory names as conflicting partition columns), unioned by name.
    Callers' column prunes push down through the Union.
    Reads pin the writer's schema, checked against one footer per root."""
    roots = _index_source_roots(state_dir, high, tail)
    for s in roots:
        _check_footer(Path(s), _INDEX_COLS)
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.schema(f"{_INDEX_COLS}, part int")
            .option("basePath", s)
            .parquet(s)
            for s in roots
        ],
    )


def _sweep_covered(state_dir: str, high: int) -> None:
    """Delete index artifacts the merged=<high> artifact supersedes: every
    per-epoch dir with epoch <= high and every older merged artifact.
    Nothing reads them (_index_coverage tails are strictly > high), but a
    crash between a merged write and this cleanup would otherwise leak them
    forever — the early 'already compact' return must retry the sweep."""
    import shutil

    root = _index_path(state_dir)
    for d in root.glob("epoch=*"):
        e = int(d.name.split("=", 1)[1])
        if e <= high:
            shutil.rmtree(d, ignore_errors=True)
    for d in root.glob("merged=*"):
        if int(d.name.split("=", 1)[1]) < high:
            shutil.rmtree(d, ignore_errors=True)


def compact_index(
    spark: SparkSession, state_dir: str, min_tail: int = 0
) -> int | None:
    """Merge committed epochs' band-key indexes into one compacted
    artifact, then drop the per-epoch dirs it covers — the log-structured-
    table maintenance step that keeps per-batch index reads O(1)
    directories instead of O(#epochs).

    Covers epochs STRICTLY BELOW the last committed one: the newest epoch
    is the only one a stream restart can replay (its state is committed but
    the stream checkpoint may not be), and a replayed epoch must never find
    its own rows pre-merged into the reference index.  STATE epochs are
    untouched (they are the durable record); only the derived index is
    rewritten, so compaction is safe between batches and crash-safe — the
    merged artifact lands (its _SUCCESS marker) before any per-epoch dir
    is removed, and a half-finished removal only leaves duplicate index
    rows, which reads dedup.  Returns the new high-water epoch, or None
    when there is nothing to compact.

    min_tail: skip (returning the current high-water) unless at least this
    many per-epoch dirs sit above it — the auto-compaction trigger
    run_incremental uses, kept here so the tail derivation has ONE owner
    (_index_coverage)."""
    epochs = _committed_epochs(state_dir)
    if len(epochs) < 2:
        return _merged_high_water(state_dir)
    target = epochs[:-1]
    cov = _index_coverage(state_dir, target)
    if cov is None:
        return None  # legacy/mixed layout: nothing safely compactable
    old_high, tail = cov
    high = target[-1]
    if (old_high == high and not tail) or len(tail) < min_tail:
        # already compact / below the trigger — still retry the cleanup a
        # crash between the merged write and the sweep may have skipped
        if old_high is not None:
            _sweep_covered(state_dir, old_high)
        return old_high
    merged = (
        _read_index(spark, state_dir, old_high, tail)
        .select("ref_url", "ref_gid", "key_idx", "key_hash", "k64", "part")
        .distinct()
    )
    merged.write.mode("overwrite").partitionBy("part").parquet(
        str(_index_path(state_dir) / f"merged={high}")
    )
    # drop what the merged artifact covers (merged landed first = crash-safe)
    _sweep_covered(state_dir, high)
    return high


def _match_against_index(
    spark: SparkSession,
    batch_sigs: DataFrame,
    state_dir: str,
    coverage: tuple[int | None, list[int]],
    cfg: DedupConfig,
) -> DataFrame:
    """(url, gid) for batch urls that match a reference group: a ref gid
    matches a batch url iff some ref member shares a band key AND passes
    the exact-Jaccard verify (min matched gid: a deterministic stand-in for
    the reference's majority vote) — exploding only the BATCH, never the
    state.  The batch's band keys join the band-key index; ref shingles
    are fetched for candidate ref urls only, with the candidate side
    broadcast so state never shuffles.  Builds a plan and runs no job.
    ``coverage`` = (merged high-water or None, per-epoch tail) from
    _index_coverage."""
    high, tail = coverage
    cand = (
        batch_sigs.select(
            "url", "shingles", F.posexplode("bands").alias("key_idx", "key_hash")
        )
        .join(_read_index(spark, state_dir, high, tail), ["key_idx", "key_hash"])
        .select("url", "shingles", "ref_url", "ref_gid")
        .distinct()
    )
    # the newest covered epoch: tail entries are strictly above the merged
    # high-water, so max(coverage) is tail[-1] when a tail exists, else high
    last_covered = tail[-1] if tail else high
    refsh = read_state(spark, state_dir, before_epoch=last_covered + 1).select(
        F.col("url").alias("ref_url"), F.col("shingles").alias("ref_shingles")
    )
    verified = (
        refsh.join(F.broadcast(cand), "ref_url")
        .where(
            jaccard_sketch(
                F.col("shingles"), F.col("ref_shingles"), cfg.shingle_sketch_k
            )
            >= cfg.jaccard_threshold
        )
    )
    return verified.groupBy("url").agg(F.min("ref_gid").alias("gid"))


def _assign_gids(
    batch_urls: DataFrame, matched: DataFrame, internal: DataFrame
) -> DataFrame:
    """(url, gid) for every batch url: its own state match wins; else the
    min state gid matched anywhere in its batch-internal component; else
    the component's gid; else its own url (it founds a new group).

    One window over coalesce(igid, url) computes the component minimum, so
    the match plan under ``matched`` is planned and run once (a groupBy
    joined back to its own input would run it twice).  An unmatched-by-CC
    row (null igid) is a one-row partition: its url is no component's gid,
    since every node of a component carries a non-null igid."""
    assign = batch_urls.join(matched, "url", "left").join(
        internal.withColumnRenamed("gid", "igid"), "url", "left"
    )
    component = Window.partitionBy(F.coalesce(F.col("igid"), F.col("url")))
    return assign.select(
        "url",
        F.coalesce(
            F.col("gid"), F.min("gid").over(component), F.col("igid"), F.col("url")
        ).alias("gid"),
    )


def process_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    cfg: DedupConfig,
    epoch_id: int | None = None,
) -> DataFrame:
    """One launchdedupe round: assign every batch row a gid, commit state
    for this epoch.  Returns the batch assignment (url, gid).

    EPOCH-IDEMPOTENT: state is written to state/epoch=<epoch_id> with
    mode=overwrite, and the reference set this batch matches against is
    the union of epochs STRICTLY BELOW epoch_id — so a foreachBatch replay
    after a crash between the state write and the stream-checkpoint commit
    recomputes the identical assignment and overwrites the identical epoch
    directory instead of double-appending rows.  Callers outside streaming
    may omit epoch_id (auto: next uncommitted epoch).

    BLOCK LIFECYCLE: everything the batch caches or checkpoints lives in
    one scope over the whole body.  The match plan (band-key index join,
    state-shingle verify) is planned and run once, inside the
    assignment's localCheckpoint.  The CC star forest is freed right after
    that checkpoint, the signature and new-state caches once the epoch is
    committed.  On success only the returned frame outlives the call: it
    is localCheckpoint-backed (one batch-sized block set), and once the
    caller has consumed it (collect / write / copied into another
    materialization) it calls ``release_batch(assigned)`` — otherwise
    each micro-batch leaves its block set to driver GC.
    run_incremental's foreachBatch does this automatically.  On any
    exception every block the batch created is freed before it
    propagates."""
    from webdedup.candidates import did, minhash_candidates
    from webdedup.cluster import connected_components

    committed = _committed_epochs(state_dir)
    if epoch_id is None:
        epoch_id = (committed[-1] + 1) if committed else 0
    committed_below = [e for e in committed if e < epoch_id]
    with Scope() as held, Scope() as cc:
        sigs = held.persist(compute_signatures(batch, cfg))

        # 1. batch-internal grouping (new records may duplicate each other),
        #    verified in did space: one join per side fetches url AND
        #    shingles (collision posture: candidates.did)
        internal_pairs, _ = minhash_candidates(sigs, cfg)
        docs = sigs.select(did(F.col("url")), "url", "shingles")
        verified = (
            internal_pairs.join(docs.toDF("did_a", "url_a", "sh_a"), "did_a")
            .join(docs.toDF("did_b", "url_b", "sh_b"), "did_b")
            .where(
                jaccard_sketch(F.col("sh_a"), F.col("sh_b"), cfg.shingle_sketch_k)
                >= cfg.jaccard_threshold
            )
            .select("url_a", "url_b")
        )
        internal = connected_components(verified, scope=cc)

        # 2. match against accumulated reference state via the band-key
        #    index (explodes only the batch, never state); committed state
        #    that no index covers is an error
        if committed_below:
            coverage = _index_coverage(state_dir, committed_below)
            if coverage is None:
                raise ValueError(
                    f"{state_dir}: no band-key index covers committed epochs "
                    f"{committed_below} (an epoch's index dir is missing, or a "
                    "merged index reaches past them)"
                )
            matched = _match_against_index(spark, sigs, state_dir, coverage, cfg)
        else:
            matched = spark.createDataFrame([], "url string, gid string")

        # 3. assembly.  Materialize ONCE (batch-sized blocks): the state
        #    write below and the caller's read both consume assigned —
        #    without this each recomputes the whole match plan, and the CC
        #    star forest behind `internal` could never be freed (one leaked
        #    block set per micro-batch over a stream's lifetime)
        assigned = held.checkpoint(_assign_gids(sigs.select("url"), matched, internal))
        cc.close()

        new_state = held.persist(
            sigs.select("url", "shingles", "bands").join(assigned, "url")
        )
        # index first, then the state parquet whose _SUCCESS commits
        # the epoch; each is an overwrite, so a foreachBatch replay after any
        # crash point rewrites identical artifacts (idempotent commit)
        _write_epoch_index(new_state, state_dir, epoch_id)
        new_state.write.mode("overwrite").parquet(
            str(_state_path(state_dir) / f"epoch={epoch_id}")
        )
        return held.detach(assigned)


def release_batch(assigned: DataFrame) -> None:
    """Free the localCheckpoint blocks behind a process_batch result.
    Call ONLY after the caller has fully consumed the frame — the lineage
    is truncated, so the blocks are unrecoverable afterwards."""
    free_checkpoint(assigned)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window aggregation over an event stream (or batch table):
    (window_start, key, n_events, total_value).

    With ``watermark`` set on a streaming input, rows arriving later than
    the watermark are dropped and append-mode emits each window exactly
    once, when it closes — the standard late-data story
    (tests/test_questions_streaming.py::test_windowed_stream_watermark).

    total_value sums via decimal(18,2): float summation order varies with
    partitioning, so a double sum is not bit-deterministic — the decimal
    sum is exact and engine-portable (the DuckDB oracle replays it), then
    cast back to double for the output column."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def exact_dedup_stateful(pages_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup as a CUSTOM STATEFUL OPERATOR
    (applyInPandasWithState) — the second streaming shape next to
    run_incremental's foreachBatch loop.

    Groups the stream by exact text hash; per-key state is the group id
    (the first-seen url, min-url within the founding microbatch for
    determinism).  Emits (url, gid, text_hash) per input row; a row founds
    a new group iff url == gid.

    When to use which: run_incremental (foreachBatch + epoch parquet state)
    fits the NEAR-dup pipeline, whose matching is a join against all prior
    state — not expressible as per-key state.  Exact dedup IS per-key
    (key = text hash), so it maps onto the engine's keyed state store:
    state lives in the streaming checkpoint (RocksDB/HDFS-backed at scale,
    hash-partitioned by key across executors), giving exactly-once replay
    without a side parquet directory.  Per-key memory here is O(1) state
    (one gid) plus the batch's own rows for the key; a pathological
    exact-dup cohort (10^6 identical pages in one trigger) buffers only its
    url column before emitting.

    The reference has no streaming at all (SURVEY §2.10) — both shapes are
    beyond-reference additions."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = pages_stream.select(
        "url", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("text_hash")
    )

    def assign(key, pdf_iter, state: GroupState):
        urls: list = []
        for pdf in pdf_iter:
            urls.extend(pdf["url"].tolist())
        if state.exists:
            (gid,) = state.get
        else:
            gid = min(urls)
            state.update((gid,))
        yield pd.DataFrame(
            {"url": urls, "gid": gid, "text_hash": key[0]}
        )

    return hashed.groupBy("text_hash").applyInPandasWithState(
        assign,
        outputStructType="url string, gid string, text_hash bigint",
        stateStructType="gid string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_exact_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 1,
):
    """Drive exact_dedup_stateful over a file source into a parquet sink;
    returns the started query.  Checkpoint (incl. the keyed state store)
    lives under <out_dir>/_checkpoint."""
    from webdedup.synth import pages_spark_schema

    stream = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    assigned = exact_dedup_stateful(stream)
    return (
        assigned.writeStream.format("parquet")
        .option("path", f"{out_dir}/assignments")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    cfg: DedupConfig | None = None,
    max_files_per_trigger: int = 1,
    compact_every: int = 8,
):
    """Drive a file-source stream through process_batch; returns the query.

    compact_every: once at least this many per-epoch index directories sit
    above the merged high-water, compact_index folds them after the batch
    commits (0 disables).  Compaction runs strictly between batches on
    epochs below the one just committed, so a replay of that epoch still
    sees a reference index that excludes its own rows.

    Batch-mode callers can invoke process_batch directly — foreachBatch
    receives exactly the same DataFrame shape (SURVEY §2.10: resumability
    comes from the state/checkpoint tables, not streaming operator state).
    """
    from webdedup.synth import pages_spark_schema

    cfg = cfg or DedupConfig()
    stream = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    # A FRESH stream checkpoint restarts batchId at 0, which would
    # overwrite epoch directories already committed by earlier batch-mode
    # process_batch calls (or an earlier, discarded checkpoint) AND hide
    # them from read_state(before_epoch=0).  Pin an epoch base alongside
    # the checkpoint: first start maps batchId 0 past every committed
    # epoch; restarts of the SAME checkpoint reuse the stored base, so a
    # replayed batchId still lands on its identical epoch directory.
    ckpt = Path(state_dir) / "_stream_checkpoint"
    base_marker = ckpt / "epoch_base.txt"
    if base_marker.exists():
        epoch_base = int(base_marker.read_text())
    else:
        committed = _committed_epochs(state_dir)
        epoch_base = (committed[-1] + 1) if committed else 0
        ckpt.mkdir(parents=True, exist_ok=True)
        base_marker.write_text(str(epoch_base))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        assigned = process_batch(
            spark, batch_df, state_dir, cfg, epoch_id=epoch_base + epoch_id
        )
        # the stream driver never reads the return value — the epoch
        # parquet write inside process_batch was the consumer, so the
        # batch's checkpoint blocks are dead the moment it returns
        release_batch(assigned)
        if compact_every:
            compact_index(spark, state_dir, min_tail=compact_every)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
