"""Substring-overlap pass: long exact overlaps that MinHash misses.

A doc embedding a >=200-char span of another doc can sit far below any
Jaccard threshold (the container dilutes the shingle set) — the reference's
`contains_score` (suricate/preutils/similarityscores.py:56-75) only handles
whole-string containment and only per pair.  At scale we do it in two
fully-JVM stages:

  1. **Anchor blocking**: hash every anchor_len char-gram of the raw text,
     keep grams whose hash % stride == 0 — a content-defined (Winnowing-
     style, Schleimer et al., SIGMOD 2003) selection that is alignment-
     invariant: two docs sharing a long span select the SAME grams inside
     it, at any offset.  Docs sharing a rare selected gram (2..anchor_max
     docs; hotter grams are boilerplate) become candidate pairs.

  2. **Verification**: for the docs that appear in candidate pairs ONLY,
     compute the dense set of xxhash64(L-grams) (L = min_overlap_chars) and
     verify each pair by native array_intersect — a shared L-gram IS an
     exact >=L-char common substring (modulo 64-bit hash collision).  This
     replaces an earlier difflib longest-common-substring mapInPandas pass
     that was ~10x slower and kept the hot path in Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webdedup.candidates import _observe, _pairs_from_keys, did
from webdedup.config import DedupConfig
from webdedup.scope import Scope
from webdedup.signatures import _mix64

# Polynomial rolling-hash base over UTF-8 bytes; odd -> invertible mod 2^64,
# so prefix sums can be computed with one vectorized cumsum (see below).
_B = np.uint64(0x9E3779B97F4A7C15 | 1)
_BINV = np.uint64(pow(int(_B), -1, 1 << 64))

# grow-only caches of [B^0..B^n] and [Binv^0..Binv^n]
_POW_CACHE: dict[str, np.ndarray] = {}


def _pows(base: np.ndarray, key: str, n: int) -> np.ndarray:
    cur = _POW_CACHE.get(key)
    if cur is None or cur.shape[0] < n:
        size = max(n, 1 << 12)
        with np.errstate(over="ignore"):
            cur = np.concatenate(
                [np.ones(1, dtype=np.uint64),
                 np.cumprod(np.full(size - 1, base, dtype=np.uint64))]
            )
        _POW_CACHE[key] = cur
    return cur


def _window_hashes(data: bytes, g: int, sel: int) -> np.ndarray:
    """Distinct mixed hashes of every g-byte window whose mixed hash
    satisfies h % sel == 0 (content-defined selection -> alignment
    invariant), as int64.  O(n) numpy work via invertible-base prefix sums:

        W(i) = sum_t c[i+t] * B^(g-1-t)
             = (S[i+g] - S[i]) * B^(i+g-1),   S[k] = sum_{j<k} c[j]*Binv^j

    finished with the splitmix64 mixer for distribution.  Replaces a
    per-position JVM substring+xxhash64 transform that did O(n*g) char work
    per document (measured 3-8x of total pipeline time at g=200).
    """
    n = len(data)
    if n < g:
        return np.empty(0, dtype=np.int64)
    c = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    binv = _pows(_BINV, "binv", n + 1)[:n]
    bpow = _pows(_B, "b", n + 1)
    with np.errstate(over="ignore"):
        s = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(c * binv, out=s[1:])
        w = (s[g:] - s[:-g]) * bpow[g - 1 : n]
    w = _mix64(w)
    if sel > 1:
        w = w[w % np.uint64(sel) == 0]
    return np.unique(w).view(np.int64)


def make_gram_hash_udf(g: int, sel: int):
    """pandas UDF: text -> array<long> of distinct selected g-byte window
    hashes (empty for null/short docs)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def gram_hashes(text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _window_hashes(("" if t is None else t).encode("utf-8"), g, sel)
                for t in text
            ]
        )

    return gram_hashes


def anchor_keys(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Content-defined anchors as (did, key_idx=0, key_hash) rows — did is
    the 64-bit doc id (candidates.did), so the anchor
    explode (the densest key table in the engine: one row per selected
    window) shuffles 8 B ids instead of url strings.

    Anchor = anchor_len-byte window whose rolling hash ≡ 0 (mod
    anchor_stride) — a Winnowing-style (Schleimer et al., SIGMOD 2003)
    selection: two docs sharing a long span select the SAME grams inside it,
    at any offset.  One vectorized pandas UDF per doc partition.
    """
    udf = make_gram_hash_udf(cfg.anchor_len, cfg.anchor_stride)
    return (
        pages.select(
            did(F.col("url")).alias("did"),
            F.explode(udf(F.col("text"))).alias("key_hash"),
        )
        .withColumn("key_idx", F.lit(0))
    )


def substring_candidates(
    pages: DataFrame,
    cfg: DedupConfig,
    *,
    scope: Scope,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pairs(did_a, did_b, method='substring'), skew_metrics): docs sharing
    a rare anchor, in the did space of every candidate source (urls come
    back through candidates.rejoin_urls).  The anchor key table and its
    bucket-pruned copy are checkpointed into ``scope`` by this call, one
    eager job each: close the scope once the pairs and skew metrics are
    materialized.  ``observation`` receives the skew row from the pruning
    pass (candidates._pairs_from_keys)."""
    # scope: the anchor scan is a pandas-UDF pass over the full corpus;
    # without the checkpoint it re-executes once per downstream consumer
    # (measured as the bulk of a 63s sf0.1 query).
    return _pairs_from_keys(
        anchor_keys(pages, cfg),
        cfg,
        "substring",
        max_bucket=cfg.anchor_max_docs,
        scope=scope,
        observation=observation,
    )


def verify_overlaps(
    pairs: DataFrame,
    pages: DataFrame,
    cfg: DedupConfig,
    *,
    scope: Scope,
    observation: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Keep pairs sharing at least one exact min_overlap_chars-char substring.

    Takes did pairs (did_a, did_b) with did_a < did_b, as every candidate
    source emits them, and returns (verified, skew_metrics).  verified is
    (did_a, did_b, n_shared_grams); n_shared_grams >= 1 certifies a common
    substring of length >= min_overlap_chars (each shared dense-gram hash
    is one aligned exact window).  skew_metrics accounts the gram buckets
    dropped by the verify_max_docs cap (same schema as the candidate-side
    skew metrics) — the capped mass is REPORTED, never silently truncated.
    Mixed-hotness caveat: a pair admitted via a rare anchor whose only
    >=min_overlap_chars shared span is hotter than verify_max_docs loses
    its certificate here; the dropped-bucket metrics are how a run audits
    that exposure (see the candidates-stage manifest).  This call fills
    the sized gram table with one eager job and holds it in ``scope``:
    close the scope once the result is materialized.  ``observation``
    receives the skew row from that same job.

    Plan shape: the dense grams of candidate-pair MEMBER docs are exploded to
    (doc_id, gram) rows and self-joined within gram buckets, then the
    resulting shared-gram counts are restricted to the candidate pair list.
    An earlier design joined each pair to the full gram ARRAYS of both sides
    and took array_intersect per pair — at 150k pages that hauled ~6 GB of
    O(doc_len) arrays through the pair join (312 s at local[8], and the
    interpreted intersect scaled poorly); the exploded self-join shuffles
    fixed-width (long, long) rows instead and is pure relational work.

    Skew gate: gram buckets above verify_max_docs (>=200-char spans shared
    by that many docs — web boilerplate) are dropped before the self-join;
    their quadratic pair fan-out would dominate at web scale, and pairs
    sharing ONLY such spans were already capped out of the candidate list by
    the anchor pass (anchor_max_docs < verify_max_docs).  Buckets of one doc
    produce no pairs and are dropped by the same gate for free.
    """
    p = pairs.select("did_a", "did_b")
    members = (
        p.select(F.col("did_a").alias("m_did"))
        .unionByName(p.select(F.col("did_b").alias("m_did")))
        .distinct()
    )
    docs = pages.join(members, did(F.col("url")) == F.col("m_did"), "left_semi")
    udf = make_gram_hash_udf(cfg.min_overlap_chars, 1)
    grams = docs.select(
        # compact 64-bit doc id: the self-join + count shuffle then moves
        # 16 B/row instead of a ~60 B url string per side (urls rejoin at
        # the end, only for surviving pairs)
        did(F.col("url")).alias("did"),
        F.explode(udf(F.col("text"))).alias("gram"),
    )
    # bucket-size gate as a window count: one shuffle on gram (reused by the
    # self-join below), no second aggregate-and-join pass over the UDF output.
    # Checkpointed, not persisted: the self-join's two sides and the skew
    # frame read it, and AQE would submit one fill job per reader of an
    # empty cache (see candidates._pairs_from_keys).
    w = Window.partitionBy("gram")
    d = F.col("d")
    # observed metrics take no DISTINCT aggregate: a bucket of d > cap rows
    # has d rows, so sum(1/d) over the over-cap rows counts its buckets
    # (double error ~ rows * 1e-16, far inside the rounding)
    over = F.when(d > cfg.verify_max_docs, d)
    sized = scope.checkpoint(
        _observe(grams.withColumn("d", F.count(F.lit(1)).over(w)), observation, [
            F.lit("substring_verify").alias("method"),
            F.round(F.coalesce(F.sum(1 / over), F.lit(0.0))).cast("long").alias(
                "dropped_buckets"
            ),
            F.count(over).alias("dropped_rows"),
            F.coalesce(F.max(over), F.lit(0)).alias("max_dropped_bucket"),
        ])
    )
    shared = sized.where((d >= 2) & (d <= cfg.verify_max_docs)).drop("d")
    dropped = sized.where(d > cfg.verify_max_docs)
    skew_metrics = dropped.agg(
        F.lit("substring_verify").alias("method"),
        F.coalesce(F.count_distinct("gram"), F.lit(0)).alias("dropped_buckets"),
        F.count(F.lit(1)).alias("dropped_rows"),
        F.coalesce(F.max("d"), F.lit(0)).alias("max_dropped_bucket"),
    )
    a = shared.select("gram", F.col("did").alias("did_lo"))
    b = shared.select("gram", F.col("did").alias("did_hi"))
    # shuffle_hash (not merge): per-partition build is bounded by the
    # verify_max_docs bucket cap; hash probing avoids sorting the exploded
    # gram table (memory-bound at high core counts — see candidates.py)
    counts = (
        a.join(b.hint("shuffle_hash"), "gram")
        .where(F.col("did_lo") < F.col("did_hi"))
        .groupBy("did_lo", "did_hi")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    # did_a < did_b on every input pair, as on every counted (did_lo, did_hi)
    verified = p.join(
        counts,
        (p["did_a"] == counts["did_lo"]) & (p["did_b"] == counts["did_hi"]),
    )
    return verified.select("did_a", "did_b", "n_shared_grams"), skew_metrics
