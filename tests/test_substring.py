"""Substring (suffix-anchor) pass tests."""

import pandas as pd
from pyspark.sql import functions as F

from webdedup.candidates import did, doc_ids, rejoin_urls
from webdedup.config import DedupConfig
from webdedup.scope import Scope
from webdedup.substring import anchor_keys, substring_candidates, verify_overlaps


def _pages(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["url", "text"]))


def test_anchor_detects_planted_overlap(spark):
    cfg = DedupConfig()
    span = "the quick brown fox jumps over the lazy dog and runs far away " * 5  # ~315 chars
    pages = _pages(
        spark,
        [
            ("u1", "prefix text here alpha beta gamma " + span + " suffix omega"),
            ("u2", "completely different start " + span + " different ending words"),
            ("u3", "no overlap with anything else at all just some plain words here"),
        ],
    )
    with Scope() as scope:
        pairs, _ = substring_candidates(pages, cfg, scope=scope)
        got = {
            (r["url_a"], r["url_b"])
            for r in rejoin_urls(pairs, doc_ids(pages)).collect()
        }
        verified = verify_overlaps(pairs, pages, cfg, scope=scope)[0].collect()
    assert ("u1", "u2") in got
    assert all("u3" not in p for p in got)

    assert len(verified) == 1
    # each shared dense gram is one aligned exact >=200-char window; the
    # span here is a 63-char phrase repeated 5x, so DISTINCT grams collapse
    # to one per phase offset (~63), not span_len - L + 1
    assert verified[0]["n_shared_grams"] >= 50


def test_verify_rejects_short_overlap(spark):
    cfg = DedupConfig()
    pages = _pages(
        spark,
        [
            ("a", "shared short bit of text plus lots of unique words " + "x " * 100),
            ("b", "shared short bit of text plus totally other content " + "y " * 100),
        ],
    )
    # the one (a, b) pair, did-encoded with did_a < did_b
    dids = pages.select(did(F.col("url")).alias("d"))
    pairs = dids.agg(F.min("d").alias("did_a"), F.max("d").alias("did_b"))
    with Scope() as scope:
        # overlap < 200 chars
        assert verify_overlaps(pairs, pages, cfg, scope=scope)[0].count() == 0


def test_anchor_selection_alignment_invariant(spark):
    """Winnowing property: the selected anchors inside a shared span are the
    same regardless of the span's offset in the document."""
    cfg = DedupConfig()
    span = "alignment invariant anchor selection check phrase repeated " * 6
    pages = _pages(
        spark,
        [("p1", "AA " + span), ("p2", "BBBBBBB CCCC DDDDD " + span)],
    )
    dids = {r["url"]: r["did"] for r in doc_ids(pages).collect()}
    keys = anchor_keys(pages, cfg).collect()
    k1 = {r["key_hash"] for r in keys if r["did"] == dids["p1"]}
    k2 = {r["key_hash"] for r in keys if r["did"] == dids["p2"]}
    assert len(k1 & k2) >= 3  # shared span selects the same gram hashes
