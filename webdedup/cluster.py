"""Duplicate-group assignment: connected components + golden records.

Replaces the reference's incremental mode-vote dedupe loop
(`SingleGrouping.launchdedupe`, suricate/grouping.py:47-221) — whose batch
while-loop realizes transitivity one batch at a time — with connected
components over the match-edge set, computed DataFrame-natively via the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014).  GraphFrames is not
available offline; the alternating algorithm is pure joins/groupBys, runs in
O(log^2 n) rounds, and each round is one shuffle — the right shape for a
1000-executor cluster.

Group id (gid) = min url in the component (deterministic, permutation
invariant).  Golden-record aggregation maps suricate/grouping.py:224-322
(policies popularity/first/last/concat) onto native aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from webdedup.scope import Scope


def _symmetrize(edges: DataFrame) -> DataFrame:
    """(a, b) undirected -> directed both ways, self-loops dropped.

    NO distinct here: duplicate directed edges do not change min-neighbor
    aggregates or star outputs, and each star op ends in its own dedup —
    a distinct per symmetrize would be a pure extra shuffle per round."""
    fwd = edges.select(F.col("url_a").alias("u"), F.col("url_b").alias("v"))
    rev = edges.select(F.col("url_b").alias("u"), F.col("url_a").alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v"))


def _min_neighbor(e: DataFrame) -> DataFrame:
    """m(u) = min(neighbors(u) + {u})."""
    return e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: emit (v, m(u)) for every strictly larger neighbor v.

    The groupBy and the join both hash-partition on u, so the exchange under
    the aggregate is reused for the join side (one shuffle, not two); dedup
    is deferred to the end of the round (_small_star)."""
    m = _min_neighbor(e)
    return (
        e.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("url_a"), F.col("m").alias("url_b"))
        .where(F.col("url_a") != F.col("url_b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each u: emit (v, m(u)) for every v <= u, plus (u, m(u))."""
    m = _min_neighbor(e)
    nbr = (
        e.where(F.col("v") <= F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("url_a"), F.col("m").alias("url_b"))
    )
    own = m.select(F.col("u").alias("url_a"), F.col("m").alias("url_b"))
    return (
        nbr.unionByName(own)
        .where(F.col("url_a") != F.col("url_b"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: overflow-proof under ANSI mode at any row count
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("url_a", "url_b").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_contract(
    edges: DataFrame, num_partitions: int | None = None, with_roots: bool = False
) -> DataFrame:
    """Partition-local union-find contraction: one shuffle + one python pass.

    Edges are hash-partitioned by url_a; within each partition a union-find
    collapses every chain/star it can see and emits one (member, local_root)
    edge per non-root member.  Components are preserved exactly (the output
    edge set connects the same node sets), but intra-partition chains become
    depth-1 stars, so the star rounds that follow converge in 1-2 rounds on
    typical dup graphs instead of O(log^2).  Memory per partition is
    O(nodes in partition) — bounded by choosing enough partitions at scale.

    with_roots=True also emits (root, root) for every root: each node seen
    appears exactly once as url_b, so a single-partition pass is already the
    final (gid, url) membership.
    """
    import pandas as pd

    def contract(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["url_a"], pdf["url_b"]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union by MIN id keeps the representative deterministic
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        out_a, out_b = [], []
        for node in parent:
            root = find(node)
            if with_roots or root != node:
                out_a.append(root)
                out_b.append(node)
        yield pd.DataFrame({"url_a": out_a, "url_b": out_b})

    part = num_partitions or edges.sparkSession.sparkContext.defaultParallelism
    return edges.repartition(part, "url_a").mapInPandas(
        contract, schema="url_a string, url_b string"
    )


SINGLE_TASK_EDGE_LIMIT = 10_000_000  # ~1 GB of edge strings in one task


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    *,
    scope: Scope,
) -> DataFrame:
    """edges(url_a, url_b) -> (url, gid) for every node appearing in edges.

    Adaptive: a partition-local union-find contraction runs first (one
    pass).  Its edge count is taken by an Observation on the contraction's
    own localCheckpoint, not by a separate count job.  If the contracted
    edge set fits one task (SINGLE_TASK_EDGE_LIMIT), a final
    single-partition union-find finishes exactly — no iterative rounds,
    which on small/medium graphs are pure scheduler overhead (measured 12 s
    for 34k edges) — and emits (url, gid) for every node, roots included,
    so its checkpoint is the result as is.  Larger graphs take the
    alternating large-star/small-star rounds (Kiveris et al., SoCC'14) to a
    checksum fixpoint; each round localCheckpoints to cut lineage.  At
    10^12-doc scale the edge set takes the iterative path; the contraction
    output is one edge per non-root node, so the single-task cutoff is
    really a bound on component-member count.

    scope: holds the localCheckpoint the RESULT still reads (the fixpoint
    star forest / the single-task union-find output); close it after
    materializing everything derived from the return value.  Intermediate
    rounds are released here the moment the next round materializes.
    """
    cur = edges.select("url_a", "url_b").where(F.col("url_a") != F.col("url_b"))
    obs = Observation()
    cur = scope.checkpoint(
        _local_contract(cur).observe(obs, F.count(F.lit(1)).alias("n"))
    )

    n_edges = obs.get["n"]
    if n_edges == 0:
        # the contraction of an empty edge set is empty, so the observed
        # count answers the emptiness question without a job of its own
        scope.release(cur)
        return edges.sparkSession.createDataFrame([], "url string, gid string")
    if n_edges <= SINGLE_TASK_EDGE_LIMIT:
        # contracted graph is small: one exact union-find pass, no rounds
        final = scope.checkpoint(
            _local_contract(cur, num_partitions=1, with_roots=True).select(
                F.col("url_b").alias("url"), F.col("url_a").alias("gid")
            )
        )
        # localCheckpoint is eager: final is materialized, the contraction
        # checkpoint is dead NOW; final's blocks serve the return value
        scope.release(cur)
        return final
    prev_sig = None
    for _ in range(max_iterations):
        nxt = _large_star(_symmetrize(cur))
        nxt = scope.checkpoint(_small_star(_symmetrize(nxt)))
        sig = _edge_checksum(nxt)
        # the checksum materialized nxt, so the PREVIOUS round's blocks are
        # dead — at scale each round holds an O(edges) block set, and
        # without this inline release a 20-round job retains 20 of them
        scope.release(cur)
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # no release here: the owner's scope frees the last round's blocks
        # as this error unwinds
        raise RuntimeError(f"connected_components did not converge in {max_iterations} rounds")

    # fixpoint is a star forest: every edge points child -> root
    sym = _symmetrize(cur)
    membership = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("gid"))
    roots = membership.select(F.col("gid").alias("u"), F.col("gid"))
    return (
        membership.unionByName(roots)
        .groupBy("u")
        .agg(F.min("gid").alias("gid"))
        .select(F.col("u").alias("url"), "gid")
    )


def assign_clusters(pages: DataFrame, components: DataFrame) -> DataFrame:
    """Every page gets a gid; non-matched pages are their own singleton group
    (mirrors grouping.py:198-201 'new gid = own ix if no match')."""
    return pages.join(components, "url", "left").withColumn(
        "gid", F.coalesce(F.col("gid"), F.col("url"))
    )


def golden_records(
    clustered: DataFrame,
    policies: dict[str, str] | None = None,
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Per-gid golden record with per-column policy (grouping.py:224-322):
    popularity (mode), first/last (by warc_ts), concat (distinct, ordered).
    """
    policies = policies or {"url": "first", "text": "popularity", "lang": "popularity"}
    aggs = [F.count("*").alias("n_members")]
    for col_name, policy in policies.items():
        if policy == "popularity":
            aggs.append(F.mode(col_name).alias(f"{col_name}_golden"))
        elif policy == "first":
            aggs.append(F.min_by(col_name, ts_col).alias(f"{col_name}_golden"))
        elif policy == "last":
            aggs.append(F.max_by(col_name, ts_col).alias(f"{col_name}_golden"))
        elif policy == "concat":
            aggs.append(
                F.array_join(
                    F.array_distinct(F.sort_array(F.collect_list(col_name))), " "
                ).alias(f"{col_name}_golden")
            )
        else:
            raise ValueError(f"unknown golden-record policy {policy!r} for {col_name}")
    return clustered.groupBy("gid").agg(*aggs)


def keep_best(
    clustered: DataFrame, score_col: str, id_col: str = "url", gid_col: str = "gid"
) -> DataFrame:
    """Quality-aware keeper selection: one row per gid — the member with
    the highest score, ties broken by smallest id.  The keep-best-copy
    dedup policy training pipelines use (FineWeb/SemDeDup style: keep the
    best-quality duplicate) vs golden_records' per-column synthesis.

    One row_number window per gid = a single hash shuffle; duplicate
    clusters are bounded by the dedup semantics (boilerplate cohorts are
    capped upstream with reported drop mass), so no skew salting needed.
    """
    from pyspark.sql import Window

    missing = [c for c in (gid_col, score_col, id_col) if c not in clustered.columns]
    if missing:
        raise ValueError(f"keep_best: input is missing column(s) {missing}")
    if "_rn" in clustered.columns:
        raise ValueError("keep_best: input already has a _rn column")
    w = Window.partitionBy(gid_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        clustered.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def default_keeper_score(text_col: str = "text") -> Column:
    """The default keep-best quality score: unique-token ratio (a cheap,
    monotone boilerplate/repetition signal — FineWeb-style).  Explicit
    whitespace class (not engine \\s, which differs between Java and RE2 on
    \\x0B) so any SQL oracle tokenizes identically."""
    toks = F.split(F.trim(F.col(text_col)), r"[ \t\n\r\f]+")
    return F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6)
