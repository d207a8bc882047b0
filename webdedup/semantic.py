"""Semantic deduplication over embedding vectors (SemDeDup-style).

Documents whose EMBEDDINGS are near-identical in cosine are duplicates
even when their token n-grams share nothing — translations, templated
rewrites, heavy paraphrases — so MinHash/SimHash miss them by
construction.  SemDeDup (Abbas et al. 2023, arXiv:2303.09540) dedups in
embedding space: partition the corpus into quantizer cells, compare
pairs only WITHIN a cell, connect pairs above a cosine threshold, keep
one document per connected component.

Reference parity: suricate has no embedding path — this is a
beyond-reference training-pipeline operator (SURVEY §2.12).  The shape
deliberately mirrors the repo's LSH dedup pipeline:

  blocking   = the IVF coarse quantizer (ann.ivf_build; cells play the
               role of band buckets),
  candidates = the within-cell self-join, with the same capped-skew
               contract as candidates._pairs_from_keys (over-cap cells
               are dropped WITH their mass reported in a metrics
               DataFrame, never silently),
  clustering = cluster.connected_components (large-star/small-star with
               partition-local union-find contraction).

Scale: within-cell comparison is quadratic in cell size, so n_cells
must grow with the corpus — n_cells ~ N/5000 keeps the expected cell
quadratic ~25M comparisons.  The default (n_cells=None) now APPLIES that
rule: ann.auto_n_cells derives the count from one corpus count() (floor
16); pass n_cells explicitly to pin it.  The shuffle is one exchange of (id, vector,
cell) hashed by cell, and AQE's skew-join splitting backstops moderate
imbalance while ``cell_cap`` bounds (and reports) the pathological
cells.  At 10^12 docs the index table from ivf_build is written once
partitioned by cell and this join reads it back co-located, exactly the
ivf_topk deployment shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from webdedup.ann import dot, ivf_build
from webdedup.cluster import connected_components
from webdedup.scope import Scope

# connected_components is string-typed and picks the LEXICOGRAPHIC min per
# component; ids are made sortable-as-strings by shifting into the unsigned
# domain (id + 2^63, exact in decimal(20,0)) and left-padding to 20 digits —
# total over all of int64, no sign or magnitude precondition
def _id_shift() -> Column:
    # 2^63 exceeds the int64 range py4j literals travel in -> string cast
    return F.lit("9223372036854775808").cast("decimal(20,0)")


def _encode_id(c: Column) -> Column:
    return F.lpad((c.cast("decimal(20,0)") + _id_shift()).cast("string"), 20, "0")


def _decode_id(c: Column) -> Column:
    return (c.cast("decimal(20,0)") - _id_shift()).cast("bigint")


def semantic_pairs(
    corpus: DataFrame,
    tau: float = 0.45,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    seed: int = 1337,
    cell_cap: int = 65536,
    *,
    scope: Scope,
) -> tuple[DataFrame, DataFrame]:
    """(pairs(id_a, id_b, cosine), skew_metrics) — candidate semantic-dup
    pairs: same quantizer cell AND round(cosine, 6) >= tau.

    The cosine is rounded to 6 dp BEFORE the threshold (and returned
    rounded) so a SQL oracle computing in float64 left-to-right agrees
    bit-for-bit; ann.dot casts each float32 element to double exactly as
    ``embedding::DOUBLE[]`` does.  Cells above ``cell_cap`` members are
    dropped entirely and accounted in skew_metrics (dropped_cells /
    dropped_rows / max_dropped_cell, method='semantic') — the repo-wide
    capped-mass contract.  The cell index is held in ``scope``: close it
    once the pairs and skew metrics are materialized."""
    index, _cents, _quantized = ivf_build(
        corpus, n_cells, id_col, vec_col, centroids, seed
    )
    # ivf_build's index rows carry (neighbor_id, cv, c_norm, cell); the
    # assignment UDF runs once here and both join sides read the staged
    # result instead of re-assigning per side
    index = scope.persist(index)
    sizes = index.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_size"))
    over = sizes.where(F.col("cell_size") > cell_cap)
    skew_metrics = over.agg(
        F.lit("semantic").alias("method"),
        F.count(F.lit(1)).alias("dropped_cells"),
        F.coalesce(F.sum("cell_size"), F.lit(0)).alias("dropped_rows"),
        F.coalesce(F.max("cell_size"), F.lit(0)).alias("max_dropped_cell"),
    )
    live = index.join(F.broadcast(over.select("cell")), "cell", "left_anti")

    a = live.select(
        "cell",
        F.col("neighbor_id").alias("id_a"),
        F.col("cv").alias("__va"),
        F.col("c_norm").alias("__na"),
    )
    b = live.select(
        "cell",
        F.col("neighbor_id").alias("id_b"),
        F.col("cv").alias("__vb"),
        F.col("c_norm").alias("__nb"),
    )
    # shuffle_hash pinned: both sides are UDF-derived (cell assignment),
    # so size estimates are garbage — a wrong broadcast of a corpus-sized
    # side is the failure mode candidates.py documents
    pairs = (
        a.hint("shuffle_hash")
        .join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .where(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
    )
    return pairs, skew_metrics


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.45,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    seed: int = 1337,
    cell_cap: int = 65536,
    *,
    scope: Scope,
) -> tuple[DataFrame, DataFrame]:
    """(assignments(id, gid, keep), skew_metrics) — every corpus row gets
    the minimum id of its semantic-duplicate component as gid (own id when
    no dup); keep marks the one retained representative per component.

    centroids='portable' makes the whole operator engine-replayable (the
    driver query's oracle recomputes centroid choice, cell assignment,
    pair set and components in SQL); 'kmeans' is the production quantizer.

    Block lifecycle: the persisted cell index and the connected-components
    star forest are both held in ``scope``; close it once the assignments
    (and the skew metrics, which read the index) are materialized.
    """
    pairs, skew_metrics = semantic_pairs(
        corpus, tau, n_cells, id_col, vec_col, centroids, seed, cell_cap, scope=scope
    )
    edges = pairs.select(
        _encode_id(F.col("id_a")).alias("url_a"),
        _encode_id(F.col("id_b")).alias("url_b"),
    )
    comp = connected_components(edges, scope=scope).select(
        _decode_id(F.col("url")).alias("id"),
        _decode_id(F.col("gid")).alias("__gid"),
    )
    out = (
        corpus.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("__gid"), F.col("id")).alias("gid"),
        )
        .withColumn("keep", F.col("id") == F.col("gid"))
    )
    return out, skew_metrics
