"""Blocking-layer tests: band buckets, skew caps, exact pass, ranking, and
the did-space contract every candidate source keeps."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from webdedup.candidates import (
    _pairs_from_keys,
    bucket_stats,
    did,
    doc_ids,
    exact_candidates,
    minhash_candidates,
    rank_candidates,
    rejoin_urls,
    simhash_candidates,
    union_candidates,
    url_candidates,
)
from webdedup.config import DedupConfig
from webdedup.scope import Scope
from webdedup.signatures import compute_signatures
from webdedup.substring import substring_candidates, verify_overlaps


def _keys_df(spark, rows):
    """(url, key_idx, key_hash) rows -> (url, did, key_idx, key_hash)."""
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "key_idx", "key_hash"]))
    return df.withColumn("did", did(F.col("url")))


def _url_pairs(pairs, pages):
    """did pairs -> the set of their canonical (url_a, url_b) pairs."""
    return {(r["url_a"], r["url_b"]) for r in rejoin_urls(pairs, doc_ids(pages)).collect()}


def test_pairs_from_keys_basic(spark):
    cfg = DedupConfig()
    keys = _keys_df(
        spark,
        [("a", 0, 1), ("b", 0, 1), ("c", 0, 1), ("d", 0, 2), ("e", 1, 1)],
    )
    pairs, skew = _pairs_from_keys(keys, cfg, "minhash")
    got = _url_pairs(pairs, keys)
    # bucket (0,1) = {a,b,c} -> 3 pairs; singleton buckets yield nothing;
    # bucket (1,1)={e} disjoint from (0,1) despite same hash (key_idx matters)
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    assert skew.first()["dropped_buckets"] == 0


def test_bucket_cap_drops_and_reports(spark):
    cfg = DedupConfig(max_bucket_size=3)
    rows = [(f"u{i}", 0, 99) for i in range(10)] + [("x", 0, 1), ("y", 0, 1)]
    keys = _keys_df(spark, rows)
    pairs, skew = _pairs_from_keys(keys, cfg, "minhash")
    got = _url_pairs(pairs, keys)
    assert got == {("x", "y")}  # the size-10 bucket is capped away
    s = skew.first()
    assert s["dropped_buckets"] == 1
    assert s["dropped_rows"] == 10
    assert s["max_dropped_bucket"] == 10


def test_bucket_stats_two_phase_counts(spark):
    cfg = DedupConfig()
    rows = [(f"u{i}", 0, 7) for i in range(20)] + [("z", 1, 7)]
    stats = {
        (r["key_idx"], r["key_hash"]): r["bucket_size"]
        for r in bucket_stats(_keys_df(spark, rows), cfg).collect()
    }
    assert stats[(0, 7)] == 20
    assert stats[(1, 7)] == 1


def test_exact_candidates_star_shape(spark):
    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": ["u1", "u2", "u3", "u4"],
                "text": ["same", "same", "same", "other"],
            }
        )
    )
    got = _url_pairs(exact_candidates(pages), pages)
    # star: every member pairs with min url, linear in group size
    assert got == {("u1", "u2"), ("u1", "u3")}


def test_union_candidates_provenance(spark):
    a = spark.createDataFrame(pd.DataFrame({"did_a": [1], "did_b": [2]})).withColumn(
        "method", F.lit("minhash")
    )
    b = spark.createDataFrame(pd.DataFrame({"did_a": [1], "did_b": [2]})).withColumn(
        "method", F.lit("exact")
    )
    row = union_candidates(a, b).first()
    assert row["methods"] == ["exact", "minhash"]


def test_rank_candidates_topk(spark):
    scored = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_a": ["s", "s", "s", "t"],
                "url_b": ["b1", "b2", "b3", "b1"],
                "score": [0.9, 0.5, 0.7, 0.3],
            }
        )
    )
    got = {(r["url_a"], r["url_b"]): r["rank"] for r in rank_candidates(scored, "score", k=2).collect()}
    assert got == {("s", "b1"): 1, ("s", "b3"): 2, ("t", "b1"): 1}


def test_canonical_url_and_url_candidates(spark):
    from webdedup.normalize import canonical_url

    variants = [
        "https://Site0.example/p/1",
        "http://site0.example/p/1/",
        "www.site0.example/p/1",
        "https://site0.example/p/1#frag",
    ]
    others = [
        "https://site0.example/p/2",          # different path
        "https://site0.example/P/1",          # path IS case-sensitive
        "https://site0.example/p/1?x=1",      # query kept
    ]
    # upper-case www. strips; a path-less url's query string is NOT part
    # of the host (params are case-significant page identity)
    df2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [
                    "http://WWW.Site0.example/p/1",
                    "https://site0.example?Token=AbC",
                    "https://Site0.example/p?q=a/B",
                ]
            }
        )
    )
    canon2 = [r[0] for r in df2.select(canonical_url(F.col("url"))).collect()]
    assert canon2 == [
        "site0.example/p/1",
        "site0.example?Token=AbC",
        "site0.example/p?q=a/B",
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"url": variants + others})
    )
    canon = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert canon[:4] == ["site0.example/p/1"] * 4
    assert len(set(canon[4:])) == 3 and "site0.example/p/1" not in canon[4:]

    pairs = rejoin_urls(url_candidates(df), doc_ids(df)).collect()
    # 4 colliding variants -> star of 3 edges around the min url
    assert len(pairs) == 3
    assert all(r.method == "url" for r in pairs)
    keeper = min(variants)
    assert all(r.url_a == keeper for r in pairs)


def _words(seed, n):
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    return " ".join(
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 8))) for _ in range(n)
    )


_SAME, _NEAR, _SPAN = _words(1, 60), _words(2, 80), _words(3, 50)
# a/b identical; n1/n2 one word apart; s1/s2 share one ~320-char span inside
# ~2,600 chars of their own text; the two u urls canonicalize equal
_PLANTED = [
    ("https://site.example/a", _SAME),
    ("https://site.example/b", _SAME),
    ("https://site.example/n1", _NEAR),
    ("https://site.example/n2", _NEAR.replace(_NEAR.split()[40], "changed")),
    ("https://site.example/s1", f"{_words(4, 200)} {_SPAN} {_words(5, 200)}"),
    ("https://site.example/s2", f"{_words(6, 200)} {_SPAN} {_words(7, 200)}"),
    ("https://site.example/u", _words(8, 60)),
    ("http://www.site.example/u/", _words(9, 60)),
]
_AB = ("https://site.example/a", "https://site.example/b")
_N = ("https://site.example/n1", "https://site.example/n2")
_S = ("https://site.example/s1", "https://site.example/s2")
_U = ("http://www.site.example/u/", "https://site.example/u")


def _substring_pairs(pages, sigs, cfg, scope):
    return substring_candidates(pages, cfg, scope=scope)[0]


_PRODUCERS = {
    "minhash": (lambda pages, sigs, cfg, scope: minhash_candidates(sigs, cfg)[0], {_AB, _N}),
    # the one-word edit moves the 64-bit simhash past simhash_max_hamming
    "simhash": (lambda pages, sigs, cfg, scope: simhash_candidates(sigs, cfg)[0], {_AB}),
    "exact": (lambda pages, sigs, cfg, scope: exact_candidates(pages), {_AB}),
    "url": (lambda pages, sigs, cfg, scope: url_candidates(pages), {_U}),
    "substring": (_substring_pairs, {_AB, _N, _S}),
    "verify": (
        lambda pages, sigs, cfg, scope: verify_overlaps(
            _substring_pairs(pages, sigs, cfg, scope), pages, cfg, scope=scope
        )[0],
        {_AB, _N, _S},
    ),
}


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(pd.DataFrame(_PLANTED, columns=["url", "text"]))


@pytest.mark.parametrize("producer", list(_PRODUCERS))
def test_candidate_sources_speak_did_space(spark, planted, producer):
    """Every candidate source speaks did space: (did_a, did_b, ...) bigint
    with did_a < did_b, and rejoin_urls is the one way back to urls."""
    make, expected = _PRODUCERS[producer]
    cfg = DedupConfig()
    with Scope() as scope:
        sigs = scope.persist(compute_signatures(planted, cfg))
        pairs = make(planted, sigs, cfg, scope)
        assert pairs.dtypes[:2] == [("did_a", "bigint"), ("did_b", "bigint")]
        assert pairs.where(F.col("did_a") >= F.col("did_b")).count() == 0
        assert _url_pairs(pairs, planted) == expected
