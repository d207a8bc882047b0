"""Candidate-pair generation — the blocking layer.

Replaces the reference's per-source-row Elasticsearch top-k retrieval loop
(suricate/dbconnectors/esconnector.py:132-153: one HTTP roundtrip per row)
with declarative LSH blocking:

  - MinHash band buckets: explode band hashes, self-join within buckets
  - SimHash prefix blocks: explode 16-bit blocks, self-join, hamming filter
  - (substring anchors live in substring.py)

Skew handling is explicit (north_rule): bucket sizes are computed with a
map-side-partial two-phase aggregation (see bucket_stats), oversized buckets
(boilerplate pages) are capped and the dropped mass is RETURNED as a metrics
DataFrame — never silently truncated.  AQE skew-join splitting backstops the
self-joins.

Key space: every source keys its pairs on the 64-bit doc id
``did(url)`` and emits (did_a, did_b, method) with did_a < did_b;
union_candidates collapses them to (did_a, did_b, methods array<string>).
``rejoin_urls(pairs, doc_ids(pages))`` is the one did -> url step, giving
the canonical (url_a, url_b, ...) with url_a < url_b — the shape of the
reference's ES output (ix_source, ix_target, es_score, es_rank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from webdedup.config import DedupConfig
from webdedup.scope import Scope


def bucket_stats(keys: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Two-phase bucket sizing: (key_idx, key_hash, bucket_size).

    Skew-safe by construction: a pure count aggregates map-side first
    (HashAggregate partial -> exchange -> final), so each map partition
    ships at most ONE row per (key_idx, key_hash) and a boilerplate hot key
    costs every reducer at most num_map_partitions rows — the same bound an
    explicit salt gives.  An earlier version salted anyway (groupBy key+salt,
    then re-aggregate); that is the right pattern for aggregates whose
    partial state is wide (collect_list/distinct counts), but for a count it
    only added an exchange + AQE stage per candidate source (3 per run) with
    no skew benefit.
    """
    return keys.groupBy("key_idx", "key_hash").agg(
        F.count("*").alias("bucket_size")
    )


def _observe(
    df: DataFrame, observation: Observation | None, aggs: list[Column]
) -> DataFrame:
    """df with ``aggs`` observed into ``observation`` by whichever action
    first runs df's plan (df itself when observation is None).  Spark
    allows no DISTINCT aggregate here.  When AQE prunes df's subtree out of
    the executed plan (its sibling side came up empty), the Observation
    completes with no row and ``get`` raises; the skew frame a source
    returns next to its pairs computes the same row with a job."""
    return df if observation is None else df.observe(observation, *aggs)


def _pairs_from_keys(
    keys: DataFrame,
    cfg: DedupConfig,
    method: str,
    max_bucket: int | None = None,
    scope: Scope | None = None,
    carry_cols: list[str] | None = None,
    pair_filter=None,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Self-join within (key_idx, key_hash) buckets of (did, key_idx,
    key_hash) rows -> distinct (did_a, did_b, method).

    Returns (pairs, skew_metrics).  Buckets with bucket_size > max_bucket
    are dropped entirely and accounted in skew_metrics — at web scale these
    are boilerplate/empty-page buckets whose quadratic pair blow-up would
    dominate the job; the substring + exact passes still cover their members.
    skew_metrics is a lazy one-row frame.  ``observation``, when given,
    receives the same row from the bucket-stats pass the pairs plan runs
    anyway, so a caller that materializes the pairs reads the dropped mass
    with no job of its own (see ``_observe``).

    Key rows carry the 64-bit ``did`` rather than the url, encoded BEFORE
    the key explode: the exploded key table is the job's dominant shuffle
    payload (bands x docs rows, each carrying the id + gate sketch), and an
    8-byte long in place of a ~60-byte url string both shrinks that shuffle
    and keeps the self-join's sort/hash on fixed-width primitives.  Urls
    rejoin AFTER the distinct, only for surviving pairs (rejoin_urls).

    scope: the key table is scanned up to 4x downstream (bucket sizing,
    the prune join, and — through the pruned table — both sides of the
    self-join).  When keys derive from a persisted signature table
    (minhash/simhash) the re-scan is a cheap cached explode; when they come
    from a pandas-UDF corpus scan (substring anchors) the whole UDF
    re-executes per consumer — pass the caller's scope there: the key table
    and the pruned table below are then each filled by ONE eager job
    (``Scope.checkpoint``), held until the caller closes the scope.  So the
    call itself runs the key scan, the bucket sizing and the prune.
    """
    max_bucket = max_bucket or cfg.max_bucket_size
    if scope is not None:
        keys = scope.checkpoint(keys)
    stats = bucket_stats(keys, cfg)
    size = F.col("bucket_size")
    over = F.when(size > max_bucket, size)
    skew_row = [
        F.lit(method).alias("method"),
        F.count(over).alias("dropped_buckets"),
        F.coalesce(F.sum(over), F.lit(0)).alias("dropped_rows"),
        F.coalesce(F.max(over), F.lit(0)).alias("max_dropped_bucket"),
    ]
    skew_metrics = stats.agg(*skew_row)
    ok = _observe(stats, observation, skew_row).where(
        (size >= 2) & (size <= max_bucket)
    )

    carry_cols = carry_cols or []
    # shuffle_hash pins, two reasons.  (1) The key table is UDF-derived
    # (exploded band/anchor hashes), so the static planner estimates it from
    # the parquet scan size and will happily BROADCAST millions of key rows
    # as the build side (observed at 150k pages: the broadcast build + the
    # pair-distinct partial agg on its unpartitioned output thrashed 8 tasks
    # against the memory manager for 19+ min; AQE cannot demote a
    # statically-planned broadcast).  (2) vs sort-merge (the previous pin):
    # hash probing streams, while sorting the multi-GB exploded key table
    # is O(n log n) MEMORY-BOUND work that inflated CPU-seconds 2.6x when
    # core count rose 8->32 on one box (cache contention, event-log
    # measured).  Build sides are bounded: `ok` holds one row per surviving
    # bucket, and the self-join's per-partition build is capped by
    # max_bucket pruning; at cluster scale shuffle partition count grows
    # with the data, keeping per-task builds flat.  Both joins key on
    # (key_idx, key_hash), so the bucket-stats exchange is reused.
    pruned = keys.join(
        ok.select("key_idx", "key_hash").hint("shuffle_hash"),
        ["key_idx", "key_hash"],
    )
    # The self-join scans pruned twice and AQE's runtime stage reuse does
    # NOT fire across the join's two identical subtrees (verified on the
    # executed plan: 0 ReusedExchange), so without a cache the key-table
    # exchange, the bucket-stats pass and the key derivation all run TWICE
    # per source.  Checkpoint pruned ONLY when the keys are UDF-derived
    # (a scope is passed — substring anchors), where the recompute is a second
    # full corpus scan through Python.  Eager, not persist(): AQE plans one
    # cache stage per reader of a persisted frame, and each reader submits
    # its own fill job while the cache is still empty (6 jobs for the 3 uses
    # of the substring pairs x 2 join sides, 5 of them re-reading the first
    # one's blocks); the checkpoint's one eager job fills the table, at
    # localCheckpoint's spill-safe MEMORY_AND_DISK level, before any reader
    # is planned.  For signature-derived keys
    # (minhash/simhash) the recompute is an explode of the already-cached
    # signature table + one exchange, and an interleaved same-hour A/B at
    # 150k pages/local[8] measured the unconditional MEMORY_AND_DISK cache
    # as a wash within host noise (min-of-samples 272.8s conditional vs
    # 279.7s cached vs 278.6s round-4 engine) — so we keep the variant
    # that holds no executor memory: at cluster scale those blocks would
    # evict other working sets for no measured win.  An in-array
    # alternative (collect_list + nested-transform combination explode,
    # single exchange, no cache) was measured 49% SLOWER end-to-end:
    # higher-order-function lambdas evaluate interpreted, which took the
    # per-pair hamming gate out of whole-stage codegen.
    if scope is not None:
        pruned = scope.checkpoint(pruned)
    left = pruned.select(
        F.col("key_idx"),
        F.col("key_hash"),
        F.col("did").alias("did_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry_cols],
    )
    right = pruned.select(
        F.col("key_idx"),
        F.col("key_hash"),
        F.col("did").alias("did_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry_cols],
    )
    joined = left.join(right.hint("shuffle_hash"), ["key_idx", "key_hash"]).where(
        F.col("did_a") < F.col("did_b")
    )
    if pair_filter is not None:
        # IN-JOIN pair gate: runs in the join stage, before the distinct
        # exchange — a pair dropped here never costs a shuffle byte
        joined = pair_filter(joined)
    pairs = (
        joined.select("did_a", "did_b")
        .distinct()
        .withColumn("method", F.lit(method))
    )
    return pairs, skew_metrics


def did(url: Column) -> Column:
    """The 64-bit doc id of a url: xxhash64(url).  Every candidate source
    keys its pairs on it, and nothing else encodes a url as a did.

    Collision posture: a 64-bit birthday collision needs ~5e9 docs for even
    50% odds of ONE collision corpus-wide, and its only effect is one
    spurious candidate pair that the verification features then score on
    the real texts — acceptable and documented up to 10^12 docs."""
    return F.xxhash64(url)


def doc_ids(docs: DataFrame) -> DataFrame:
    """(url, did) dictionary for rejoin_urls."""
    return docs.select("url", did(F.col("url")).alias("did"))


def rejoin_urls(pairs_did: DataFrame, ids: DataFrame) -> DataFrame:
    """(did_a, did_b, ...) -> canonical (url_a, url_b, ...): two narrow
    hash joins against the (url, did) dictionary, run only for pairs that
    SURVIVED bucketing + in-join gates + distinct.  least/greatest restores
    the url_a < url_b canonical order (did order is hash order, not url
    order).  shuffle_hash pins: both sides are UDF/agg-derived, so the
    static planner's size estimates are unusable (see _pairs_from_keys)."""
    extra = [c for c in pairs_did.columns if c not in ("did_a", "did_b")]
    ia = ids.select(F.col("did").alias("did_a"), F.col("url").alias("_ua"))
    ib = ids.select(F.col("did").alias("did_b"), F.col("url").alias("_ub"))
    return (
        pairs_did.join(ia.hint("shuffle_hash"), "did_a")
        .join(ib.hint("shuffle_hash"), "did_b")
        .select(
            F.least("_ua", "_ub").alias("url_a"),
            F.greatest("_ua", "_ub").alias("url_b"),
            *extra,
        )
    )


def minhash_candidates(
    signatures: DataFrame, cfg: DedupConfig, observation: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH band-bucket candidates from the `bands` column, prefiltered by
    the MinHash similarity estimate: (did_a, did_b, method) pairs plus the
    skew frame.  Callers union sources in did space and rejoin urls ONCE
    after the union dedup (``rejoin_urls``: two joins in total instead of
    two per source).

    Boilerplate-heavy corpora make the LSH s-curve's low-J tail expensive:
    docs sharing only chrome (true J ~ 0.1) still band-collide a few
    percent of the time, and at web scale those false candidates dominate
    the pair list (measured 90% of 1.3M pairs below the no-match
    threshold).  The self-join therefore carries the packed mini sketch on
    each key row and drops a pair in the join stage unless its hamming
    passes ``cfg.mini_max_hamming`` (calibration in DedupConfig) — far
    cheaper than hauling text+shingles through the SBS join.

    The band-key table is re-derived from ``signatures`` by each of its up
    to 4 consumers (see _pairs_from_keys): library callers should persist
    the signatures frame in their scope first (``scope.persist(sigs)``),
    or the signature UDF scan reruns per consumer.  ``observation``
    receives the skew row when the pairs run (see _pairs_from_keys).
    """
    use_mini = cfg.mini_max_hamming > 0
    # dictionary-encode url -> 64-bit did BEFORE the explode: the band-key
    # table is bands(42) rows/doc and the job's dominant shuffle payload;
    # an 8 B long replaces a ~60 B url on every one of them (urls rejoin
    # below, only for surviving pairs) — measured the biggest lever on the
    # one-box memory-bandwidth wall at high core counts (BENCH/BASELINE.md)
    keys = signatures.select(
        did(F.col("url")).alias("did"),
        *(["mini"] if use_mini else []),
        F.posexplode("bands").alias("key_idx", "key_hash"),
    )

    def mini_gate(joined: DataFrame) -> DataFrame:
        from webdedup.features import packed_minhash_hamming

        ham = packed_minhash_hamming(
            F.col("mini_a"), F.col("mini_b"), cfg.mini_perms // 8
        )
        return joined.where(ham <= F.lit(cfg.mini_max_hamming))

    return _pairs_from_keys(
        keys,
        cfg,
        "minhash",
        carry_cols=["mini"] if use_mini else None,
        pair_filter=mini_gate if use_mini else None,
        observation=observation,
    )


def simhash_candidates(
    signatures: DataFrame, cfg: DedupConfig, observation: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """SimHash prefix-block candidates, hamming-filtered JVM-side, as
    (did_a, did_b, method) pairs plus the skew frame (see
    minhash_candidates).

    Pigeonhole: hamming distance <= simhash_max_hamming < simhash_blocks
    guarantees the pair shares at least one block value.

    As for minhash_candidates: persist the signatures frame in the
    caller's scope first, or the signature UDF scan reruns per consumer;
    ``observation`` receives the skew row when the pairs run.
    """
    # did-encoded key rows (see minhash_candidates): 8 B id + 8 B signature
    # per exploded block row, urls rejoined only for survivors
    keys = signatures.select(
        did(F.col("url")).alias("did"),
        "simhash",
        F.posexplode("blocks").alias("key_idx", "key_hash"),
    )

    def hamming_gate(joined: DataFrame) -> DataFrame:
        # in-join: the signature is ONE long carried on each key row, so the
        # exact hamming predicate runs inside the self-join stage (native
        # bit_count, codegen) — an earlier version re-joined the signature
        # table twice after the fact, paying two more 150k-row sort-merges
        ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        return joined.where(ham <= F.lit(cfg.simhash_max_hamming))

    return _pairs_from_keys(
        keys,
        cfg,
        "simhash",
        carry_cols=["simhash"],
        pair_filter=hamming_gate,
        observation=observation,
    )


def _star_pairs(keyed: DataFrame, key_col: str, method: str) -> DataFrame:
    """Min-url star pairs over a (url, key) frame as (did_a, did_b, method)
    — the shared shape of exact_candidates and url_candidates.

    Pairs each doc in a key group with the group's minimum url — linear in
    group size (a star, not a clique); connected components restores the
    full group downstream.  The star root is the min-URL doc; the edges are
    then did-encoded, so components — and the min-url gids CC derives —
    are the same as in url space.
    """
    keeper = keyed.groupBy(key_col).agg(
        F.min("url").alias("url_a"), F.count("*").alias("n")
    )
    # keeper is corpus-sized (one row per distinct key) — the shuffle_hash
    # pin keeps the planner from broadcasting it off a bad agg-output
    # estimate, and reuses the groupBy's key exchange without a sort
    h_a, h_b = did(F.col("url_a")), did(F.col("url"))
    return (
        keyed.join(keeper.where(F.col("n") >= 2).hint("shuffle_hash"), key_col)
        .where(F.col("url") != F.col("url_a"))
        .select(
            F.least(h_a, h_b).alias("did_a"),
            F.greatest(h_a, h_b).alias("did_b"),
            F.lit(method).alias("method"),
        )
    )


def exact_candidates(pages: DataFrame) -> DataFrame:
    """Exact-duplicate pairs via text-hash grouping (the hash-groupBy dedup).
    Star/keeper semantics: see _star_pairs."""
    hashed = pages.select(
        "url", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("text_hash")
    )
    return _star_pairs(hashed, "text_hash", "exact")


def union_candidates(*sources: DataFrame) -> DataFrame:
    """Union (did_a, did_b, method) candidate sources into (did_a, did_b,
    methods), collecting per-pair provenance."""
    unioned = sources[0]
    for s in sources[1:]:
        unioned = unioned.unionByName(s)
    return unioned.groupBy("did_a", "did_b").agg(
        F.sort_array(F.collect_set("method")).alias("methods")
    )


def rank_candidates(scored: DataFrame, score_col: str, k: int | None = None) -> DataFrame:
    """Per-source rank, mirroring the reference's es_rank
    (suricate/dbconnectors/esconnector.py:289-294): row_number over
    (partition by url_a order by score desc, url_b)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("url_a").orderBy(F.col(score_col).desc(), F.col("url_b"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if k is not None:
        ranked = ranked.where(F.col("rank") <= k)
    return ranked


def url_candidates(pages: DataFrame) -> DataFrame:
    """URL-level duplicate pairs: pages whose canonicalized urls collide
    (normalize.canonical_url — scheme/www/fragment/trailing-slash/host-case
    variants of one address).  Same linear star shape and keeper rule as
    exact_candidates: each member pairs with the group's min url, CC
    restores the full group downstream.  In a Common-Crawl pipeline this
    runs BEFORE content dedup — it needs no text at all, so the scan reads
    one string column.  Star/keeper semantics: see _star_pairs."""
    from webdedup.normalize import canonical_url

    keyed = pages.select("url", canonical_url(F.col("url")).alias("curl"))
    return _star_pairs(keyed, "curl", "url")
