"""Similarity search (ann.py) against a numpy oracle, and multimodal binary
plumbing (multimodal.py): magic sniffing, stubbed decode, frame sampling."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webdedup.ann import cosine_topk, ivf_topk, rp_lsh_topk
from webdedup.multimodal import (
    extract_features,
    frame_sample_plan,
    media_meta,
    sniff_media_type,
)
from webdedup.scope import Scope

DIM = 16


def _vectors(n: int, seed: int = 7) -> pd.DataFrame:
    """Clustered vectors: `n` base directions, each with a close perturbation
    so true nearest neighbors are unambiguous."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, DIM))
    noisy = base + 0.01 * rng.standard_normal((n, DIM))
    vecs = np.concatenate([base, noisy]).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": list(range(2 * n)), "embedding": [v.tolist() for v in vecs]}
    )


def _exact_oracle(pdf: pd.DataFrame, query_ids: list[int], k: int) -> dict:
    mat = np.stack([np.asarray(v) for v in pdf["embedding"]])
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    out = {}
    for q in query_ids:
        order = [
            i
            for i in np.lexsort((np.arange(len(sims)), -sims[q]))
            if i != q
        ][:k]
        out[q] = order
    return out


def test_cosine_topk_matches_numpy_oracle(spark):
    pdf = _vectors(20)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 3)
    got = cosine_topk(df, queries, k=5).toPandas()
    oracle = _exact_oracle(pdf, [0, 1, 2], k=5)
    for q in (0, 1, 2):
        mine = got[got.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        # cosine ties can reorder; compare the neighbor SETs and the top hit
        assert mine[0] == oracle[q][0]
        assert set(mine) == set(oracle[q])


def test_cosine_topk_scores_are_cosines(spark):
    pdf = _vectors(10)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") == 0)
    got = cosine_topk(df, queries, k=3).toPandas()
    mat = np.stack([np.asarray(v) for v in pdf["embedding"]])
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for _, r in got.iterrows():
        expect = float(normed[0] @ normed[int(r.neighbor_id)])
        assert abs(r.cosine - expect) < 1e-6


def test_rp_lsh_finds_true_near_neighbor(spark):
    # the perturbed twin of each base vector has cosine ~0.9999 -> tiny
    # hamming distance -> shares a block (pigeonhole) -> must be retrieved
    n = 30
    pdf = _vectors(n)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < n)  # the base vectors
    got = rp_lsh_topk(df, queries, k=3, dim=DIM, n_bits=64, n_blocks=8).toPandas()
    hit = 0
    for q in range(n):
        mine = got[got.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        if mine and mine[0] == q + n:
            hit += 1
    assert hit / n >= 0.95  # near-exact recall of the planted twin


def test_ivf_kmeans_finds_true_near_neighbor(spark):
    # production path: KMeans-trained coarse quantizer.  The perturbed twin
    # (cosine ~0.9999) lands in the same cell as its base vector, and the
    # query's own cell is always the first probe -> twin must be retrieved.
    n = 30
    pdf = _vectors(n)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < n)  # the base vectors
    got = ivf_topk(df, queries, k=3, n_cells=8, n_probe=3).toPandas()
    hit = 0
    for q in range(n):
        mine = got[got.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        if mine and mine[0] == q + n:
            hit += 1
    assert hit / n >= 0.9


def test_ivf_portable_deterministic_and_cosines_exact(spark):
    # the oracle-replayable path: identical output under repartitioning, and
    # every returned cosine matches the numpy ground truth
    pdf = _vectors(12)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 4)
    a = (
        ivf_topk(df, queries, k=5, n_cells=4, n_probe=2, centroids="portable")
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    b = (
        ivf_topk(
            df.repartition(5), queries, k=5, n_cells=4, n_probe=2,
            centroids="portable",
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert a[["query_id", "neighbor_id", "rank"]].equals(
        b[["query_id", "neighbor_id", "rank"]]
    )
    mat = np.stack([np.asarray(v) for v in pdf["embedding"]])
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for _, r in a.iterrows():
        expect = float(normed[int(r.query_id)] @ normed[int(r.neighbor_id)])
        assert abs(r.cosine - expect) < 1e-6


def test_ivf_probes_bound_the_search(spark):
    # IVF is a pruning structure: with n_probe < n_cells a query may miss
    # corpus vectors outside its probed cells, but it must NEVER return more
    # than one row per (query, neighbor) and never the query itself
    pdf = _vectors(20)
    df = spark.createDataFrame(pdf)
    queries = df.where(F.col("vec_id") < 6)
    got = ivf_topk(df, queries, k=40, n_cells=5, n_probe=2).toPandas()
    assert not got.duplicated(["query_id", "neighbor_id"]).any()
    assert (got.query_id != got.neighbor_id).all()
    # with ALL cells probed the search is exhaustive: top-1 = exact top-1
    full = ivf_topk(
        df, queries, k=3, n_cells=5, n_probe=5, centroids="portable"
    ).toPandas()
    oracle = _exact_oracle(pdf, list(range(6)), k=3)
    for q in range(6):
        mine = full[full.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert mine[0] == oracle[q][0]


def test_ivf_prebuilt_index_reused_across_query_batches(spark):
    # production shape: build the inverted-file index once, answer several
    # query batches against it — identical results to the inline build
    from webdedup.ann import ivf_build

    pdf = _vectors(15)
    df = spark.createDataFrame(pdf)
    idx = ivf_build(df, n_cells=4, centroids="portable")
    for lo, hi in [(0, 3), (3, 6)]:
        queries = df.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        via_index = (
            ivf_topk(None, queries, k=4, n_probe=2, index=idx)
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        inline = (
            ivf_topk(df, queries, k=4, n_cells=4, n_probe=2, centroids="portable")
            .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
        assert via_index.equals(inline)
    with pytest.raises(ValueError):
        ivf_topk(None, df, k=2)


def test_sniff_media_type(spark):
    rows = [
        ("png", b"\x89PNG\r\n\x1a\n" + b"x" * 16),
        ("jpg", b"\xff\xd8\xff\xe0" + b"x" * 16),
        ("gif", b"GIF89a" + b"x" * 16),
        ("pdf", b"%PDF-1.7" + b"x" * 16),
        ("html", b"<html><body>"),
        ("wav", b"RIFF\x24\x08\x00\x00WAVE"),
        ("bin", b"\x00\x01\x02\x03"),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "name string, payload binary")
    got = {
        r["name"]: r["mt"]
        for r in df.select("name", sniff_media_type(F.col("payload")).alias("mt")).collect()
    }
    assert got["png"] == "image/png"
    assert got["jpg"] == "image/jpeg"
    assert got["gif"] == "image/gif"
    assert got["pdf"] == "application/pdf"
    assert got["html"] == "text/html"
    assert got["wav"] == "riff"
    assert got["bin"] == "application/octet-stream"
    assert got["empty"] == "application/octet-stream"


def test_media_meta_struct(spark):
    df = spark.createDataFrame(
        [("u1", b"%PDF-1.7 content")], "url string, payload binary"
    )
    row = df.select(media_meta(F.col("payload")).alias("m")).collect()[0]["m"]
    assert row["media_type"] == "application/pdf"
    assert row["n_bytes"] == 16
    assert len(row["sha256"]) == 64


def test_extract_features_fake_is_deterministic(spark):
    rows = [("u1", b"\x89PNGabc"), ("u2", b"\xff\xd8\xffxyz"), ("u3", b"")]
    df = spark.createDataFrame(rows, "url string, payload binary")
    a = extract_features(df).toPandas().sort_values("url").reset_index(drop=True)
    b = (
        extract_features(df.repartition(3))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert list(a["url"]) == ["u1", "u2", "u3"]
    assert all(len(f) == 16 for f in a["feature"])
    for fa, fb in zip(a["feature"], b["feature"]):
        assert list(fa) == list(fb)  # partitioning-invariant
    assert a.loc[0, "media_type"] == "image/png"


def test_extract_features_error_stub_raises(spark):
    df = spark.createDataFrame([("u1", b"data")], "url string, payload binary")
    with pytest.raises(Exception) as exc:
        extract_features(df, decode_stub="error").collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_resize_media_contract(spark):
    from webdedup.multimodal import resize_media

    rows = [("u1", b"\x89PNGabc"), ("u2", b"\xff\xd8\xffxyz"), ("u3", b"")]
    df = spark.createDataFrame(rows, "url string, payload binary")
    a = resize_media(df, 8, 4).toPandas().sort_values("url").reset_index(drop=True)
    b = (
        resize_media(df.repartition(3), 8, 4)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert list(a["url"]) == ["u1", "u2", "u3"]
    assert (a["width"] == 8).all() and (a["height"] == 4).all()
    assert all(len(r) == 32 for r in a["resized"])  # width*height bytes
    for ra, rb in zip(a["resized"], b["resized"]):
        assert bytes(ra) == bytes(rb)  # partitioning-invariant
    assert a.loc[0, "media_type"] == "image/png"
    # distinct payloads -> distinct resized bytes (digest-derived)
    assert bytes(a.loc[0, "resized"]) != bytes(a.loc[1, "resized"])


def test_resize_media_error_stub_raises(spark):
    from webdedup.multimodal import resize_media

    df = spark.createDataFrame([("u1", b"data")], "url string, payload binary")
    with pytest.raises(Exception) as exc:
        resize_media(df, 4, 4, decode_stub="error").collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_frame_sample_plan_offsets(spark):
    df = spark.createDataFrame(
        [("u1", b"x" * 100), ("u2", b""), ("u3", b"y" * 10)],
        "url string, payload binary",
    )
    got = frame_sample_plan(df, every_n_bytes=32).toPandas()
    u1 = got[got.url == "u1"].sort_values("frame_idx")
    assert list(u1["offset"]) == [0, 32, 64, 96]
    assert list(u1["frame_idx"]) == [0, 1, 2, 3]
    assert (got.url == "u2").sum() == 0  # empty payload -> no frames
    assert list(got[got.url == "u3"]["offset"]) == [0]


# ---------------------------------------------------------------- semantic


def _semantic_brute_groups(pdf: pd.DataFrame, tau: float) -> dict[int, int]:
    """Brute-force oracle: min-id connected components over ALL pairs with
    cosine >= tau (no cell blocking), via python union-find."""
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    ids = pdf["vec_id"].tolist()
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            if round(sims[i, j], 6) >= tau:
                ra, rb = find(ids[i]), find(ids[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def test_semantic_dedup_groups_planted_twins(spark):
    """Production path (kmeans centroids): every planted twin pair must land
    in one component (cosine ~0.9998 >> tau), non-twins must stay apart, and
    keep marks exactly one doc per component."""
    from webdedup.semantic import semantic_dedup

    pdf = _vectors(40)  # ids 0..39 bases, 40..79 their near-twins
    df = spark.createDataFrame(pdf).repartition(4)
    with Scope() as scope:
        out, skew = semantic_dedup(
            df, tau=0.95, n_cells=8, centroids="kmeans", scope=scope
        )
        got = {r["id"]: (r["gid"], r["keep"]) for r in out.collect()}
        sk = skew.collect()[0]
    assert len(got) == 80
    truth = _semantic_brute_groups(pdf, tau=0.95)
    # cell blocking can only LOSE pairs (twins in different cells), never
    # invent them: every spark group must be a subset of a truth group
    for i, (gid, keep) in got.items():
        assert truth[gid] == truth[i], f"{i} grouped with {gid} across truth"
        assert keep == (i == gid)
    # recall of planted twins: with 8 cells over 40 tight clusters the
    # quantizer may split a few twin pairs; require >= 0.9 and report
    hit = sum(1 for b in range(40) if got[b][0] == got[b + 40][0])
    assert hit >= 36, f"twin recall {hit}/40"
    assert sk["method"] == "semantic" and sk["dropped_rows"] == 0


def test_semantic_dedup_cell_cap_reports_dropped_mass(spark):
    """The capped-mass contract: cells above cell_cap produce NO pairs and
    their row mass lands in the metrics DataFrame."""
    from webdedup.semantic import semantic_dedup

    pdf = _vectors(30)
    df = spark.createDataFrame(pdf)
    # portable centroids: n_cells=1 is legal there (Spark ML KMeans needs
    # k >= 2) and guarantees one 60-row cell over the cap
    with Scope() as scope:
        out, skew = semantic_dedup(df, tau=0.95, n_cells=1, centroids="portable",
                                   cell_cap=10, scope=scope)
        sk = skew.collect()[0]
        rows = out.collect()
    assert sk["dropped_cells"] == 1 and sk["dropped_rows"] == 60
    assert len(rows) == 60
    assert all(r["gid"] == r["id"] and r["keep"] for r in rows)


def test_semantic_dedup_handles_negative_and_large_ids(spark):
    """gid must be the NUMERIC min id per component across the full int64
    domain (the string encoding shifts into unsigned space before the
    lexicographic CC min)."""
    from webdedup.semantic import semantic_dedup

    rng = np.random.default_rng(3)
    base = rng.standard_normal((3, DIM))
    ids = [-12, -5, 7, (1 << 62) + 3, -(1 << 62)]
    # twins: (-12, -5) share base0, (7, 2^62+3) share base1, -(2^62) alone
    vecs = np.stack([base[0], base[0] + 1e-3, base[1], base[1] + 1e-3, base[2]])
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [v.astype(np.float32).tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    with Scope() as scope:
        out, _ = semantic_dedup(
            df, tau=0.95, n_cells=2, centroids="portable", scope=scope
        )
        got = {r["id"]: (r["gid"], r["keep"]) for r in out.collect()}
    assert got[-12] == (-12, True)
    assert got[-5][0] in (-12, -5)  # same cell => grouped under the MIN (-12)
    if got[-5][0] == -12:  # cells may split a twin pair; min-id law holds
        assert got[-5] == (-12, False)
    assert got[7][0] in (7,)
    assert got[(1 << 62) + 3][0] in (7, (1 << 62) + 3)
    assert got[-(1 << 62)] == (-(1 << 62), True)
