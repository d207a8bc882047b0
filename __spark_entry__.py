"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship: full near-dup clustering of sf0.001 documents.
queries()      -> operator coverage from SURVEY.md §2 + training-data ops
                  (dedup, similarity search, text analysis) over the driver
                  test tables.
oracle_sql()   -> DuckDB-equivalent SQL for every SQL-expressible query.

Column aliases are kept IDENTICAL between each Spark query and its oracle —
the driver compares sorted-by-name columns via value hash.  Doubles are
rounded on both sides; sums are cast so DuckDB's hugeint widening matches
Spark's long/double.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# English-ish stopword probe used by the quality scorer (pinned tiny list so
# the oracle SQL can embed it verbatim)
_STOPWORDS = ("the", "a", "of", "and", "to")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    """Adapt the driver documents table to the engine's page shape."""
    return docs.select(
        F.format_string("doc-%08d", F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("html"),
        "text",
        "lang",
    )


# All queries() are swept in ONE session, so a query that leaves its
# input/stage caches behind holds executor memory for the whole sweep.  A
# query that caches opens a webdedup.scope.Scope, materializes its result
# lineage-free (localCheckpoint) inside it and lets the scope free the rest:
# the only retained blocks are the result's own checkpoint blocks, which
# serve the later collect without recompute.  The orderBy stays
# OUTSIDE the checkpoint so a count-style action still elides the sort
# (checkpointing the sorted frame forces a full range exchange the consumer
# may never need).


def _run_dedup(scope, spark: SparkSession, pages: DataFrame, **kw) -> dict:
    """run_dedup on the in-memory path, its returned stage caches owned by
    ``scope``."""
    from webdedup.config import DedupConfig
    from webdedup.pipeline import run_dedup

    out = run_dedup(spark, pages, DedupConfig(), **kw)
    for df in out.values():
        scope.persist(df)
    return out


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Near-dup clustering of the sf0.001 documents table: signatures ->
    LSH candidates -> features -> decisions -> connected components."""
    from webdedup.scope import Scope

    docs = _read(spark, SF0001, "documents")
    with Scope() as scope:
        pages = scope.persist(_docs_as_pages(docs))
        out = _run_dedup(scope, spark, pages, with_golden=False)
        res = out["clusters"].select("url", "gid").localCheckpoint()
    return res.orderBy("url")


# ---------------------------------------------------------------------------
# queries — each callable(spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (SURVEY §2.3 exact pass)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
        .orderBy("text_md5")
    )


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows surviving exact dedup: min doc_id per identical text."""
    from pyspark.sql import Window as W

    docs = _read(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) — text-analysis op.  Explicit
    whitespace class on both engines: Java \\s includes \\x0B, RE2 does
    not, so a bare \\s+ is a latent cross-engine divergence."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+")
    n_tokens = F.when(F.length(F.trim(F.col("text"))) == 0, 0).otherwise(F.size(toks))
    return docs.select("doc_id", n_tokens.alias("n_tokens")).orderBy("doc_id")


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish variant: GPT-2-style pre-tokenizer pieces
    (webdedup.textstats.BPE_SPLIT_PATTERN) — the vocabulary-free proxy for
    LLM token cost used to weight data mixtures.  One codegen-native
    regexp_extract_all per row; the oracle replays the identical pattern
    on DuckDB's RE2."""
    from webdedup.textstats import bpe_token_count

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens")
    ).orderBy("doc_id")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, token stats, stopword + unique-token ratios.
    Staged: the token array is materialized once per row (CollapseProject
    keeps the non-cheap split un-inlined), not re-split per stat."""
    docs = _read(spark, sf_dir, "documents")
    toks_c = F.col("__toks")
    staged = docs.withColumn("__toks", F.split(F.trim(F.col("text")), r"\s+"))
    staged = staged.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(toks_c).alias("n_tokens"),
        F.size(F.array_distinct(toks_c)).alias("__uniq"),
        F.size(F.filter(toks_c, lambda t: t.isin(*_STOPWORDS))).alias("__stop"),
    )
    return (
        staged.select(
            "doc_id",
            "n_chars_calc",
            "n_tokens",
            F.round(F.col("__uniq") / F.col("n_tokens"), 6).alias("uniq_ratio"),
            F.round(F.col("__stop") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical token-set fingerprint (document fingerprinting op)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    canon = F.array_join(F.sort_array(F.array_distinct(toks)), " ")
    return docs.select(
        "doc_id", F.md5(canon.cast("binary")).alias("fingerprint")
    ).orderBy("doc_id")


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation over the events table — the
    batch face of streaming.windowed_event_counts (same function; the
    streaming face adds withWatermark and is tested in
    tests/test_questions_streaming.py)."""
    from webdedup.streaming import windowed_event_counts

    ev = _read(spark, sf_dir, "events")
    return windowed_event_counts(ev).orderBy("window_start", "event_type")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition metrics (fraction of bigram
    occurrences in duplicated bigrams + top-bigram share) — the degenerate-
    page quality filter a training pipeline runs before dedup.  Exercises
    webdedup.linededup's sibling textstats.repetition_stats (explode +
    two map-side-combine aggs; linear, skew-free)."""
    from webdedup.textstats import repetition_stats

    docs = _read(spark, sf_dir, "documents")
    return repetition_stats(docs, n=2).orderBy("doc_id")


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level duplicated-unit removal over 10-token
    chunks (documents lack line structure): a chunk appearing in >= 2
    distinct docs keeps only its globally-first occurrence; each doc's text
    is rebuilt from surviving chunks (webdedup.linededup.dedup_units)."""
    from webdedup.linededup import dedup_units

    docs = _read(spark, sf_dir, "documents")
    cleaned, _metrics = dedup_units(
        docs, id_col="doc_id", chunk_width=10, keep="one", joiner=" "
    )
    return cleaned.orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (GPT-3-style n-gram overlap): docs whose
    8-token grams appear in a held-out benchmark slice (doc_id % 5 == 0)
    are flagged with per-doc hit counts (webdedup.decontaminate).  The
    bench-gram set is broadcast; the corpus side never shuffles."""
    from webdedup.decontaminate import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    stats, _metrics = decontaminate(corpus, bench, n=8, min_hits=1)
    return stats.orderBy("doc_id")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup (webdedup.bloom): flag docs in the "new"
    slice (doc_id % 5 == 0) whose rolling fingerprint already appears in the
    existing-corpus slice.  The corpus fingerprints are summarized once into
    a Bloom filter probed map-side by the new batch; only bloom survivors
    (true dups + false positives) enter the exact broadcast confirm join, so
    the corpus never shuffles.  Bloom has no false negatives and the confirm
    is exact, so semantics equal the plain membership join — the oracle is
    the plain IN-subquery over the same md5-portable fingerprints.

    The fingerprint table is persisted before slicing: its lineage (tokenize
    + md5 per rolling window) otherwise re-executes once for the bloom
    build, once for the confirm join's corpus side, and twice more through
    the probe branches — at corpus scale the fingerprints are the artifact
    a caller checkpoints once per snapshot, so the stage boundary is the
    honest plan, not a bench trick."""
    from webdedup.bloom import incremental_dedup
    from webdedup.scope import Scope
    from webdedup.textstats import rolling_fingerprint_from_tokens, ws_tokens

    docs = _read(spark, sf_dir, "documents")
    with Scope() as scope:
        fp = scope.persist(
            docs.select("doc_id", ws_tokens(F.col("text")).alias("__toks")).select(
                "doc_id",
                rolling_fingerprint_from_tokens(
                    F.col("__toks"), k=5, hash_fn="md5"
                ).alias("fingerprint"),
            )
        )
        new = fp.where(F.col("doc_id") % 5 == 0)
        corpus = fp.where(F.col("doc_id") % 5 != 0)
        res = incremental_dedup(new, corpus, "fingerprint")
        res = res.select("doc_id", "is_dup").localCheckpoint()
    return res.orderBy("doc_id")


def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture resampling (webdedup.sampling.mix_sources): downsample
    each source so output token mass tracks target weights (weight of srcN
    = N+1), keeping 100% of the binding source.  Row keep/drop is the
    deterministic md5-hash sampler on doc_id — pure function of the row, so
    retries/re-plans/resumes reproduce the sample exactly; the oracle
    replays the identical hash arithmetic in SQL."""
    from webdedup.sampling import mix_sources
    from webdedup.textstats import ws_tokens

    docs = _read(spark, sf_dir, "documents")
    sampled, _rates = mix_sources(
        docs,
        weight=F.expr("CAST(substring(source, 4) AS INT)") + F.lit(1.0),
        token_count=F.size(ws_tokens(F.coalesce(F.col("text"), F.lit("")))),
        portable=True,
    )
    return sampled.select("doc_id", "source").orderBy("doc_id")


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style quality gate (token-count bounds, mean token
    length, alnum ratio, stop-word evidence, duplicated-bigram ceiling)
    with per-rule booleans + final keep (webdedup.textstats.gopher_filter).
    Scalar rules are map-only; the repetition rule is one doc-keyed join."""
    from webdedup.textstats import gopher_filter

    docs = _read(spark, sf_dir, "documents")
    return gopher_filter(docs, stopwords=_STOPWORDS).orderBy("doc_id")


def _pii_scrub_oracle() -> str:
    """DuckDB oracle for q_pii_scrub, generated from the SAME pattern table
    (webdedup.scrub.PII_PATTERNS) the Spark query uses."""
    from webdedup.scrub import pii_oracle_sql

    injected = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com call +1 555 0'"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    )
    counts, scrubbed = pii_oracle_sql(f"({injected})")
    return f"""
        SELECT doc_id,
               CAST({counts["n_email"]} AS INT) AS n_email,
               CAST({counts["n_ipv4"]} AS INT) AS n_ipv4,
               CAST({counts["n_phone"]} AS INT) AS n_phone,
               {scrubbed} AS scrubbed
        FROM documents ORDER BY doc_id
    """


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers -> tokens) with
    per-category match counts (webdedup.scrub) — pure Catalyst, map-only.
    The synthetic corpus contains no PII, so the query injects a
    deterministic doc_id-derived contact line first; the oracle injects the
    identical line, so the scrubber is exercised on real matches."""
    from webdedup.scrub import scrub_pii

    docs = _read(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1 555 0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    cols = scrub_pii(injected)
    return docs.select(
        "doc_id",
        cols["n_email"].alias("n_email"),
        cols["n_ipv4"].alias("n_ipv4"),
        cols["n_phone"].alias("n_phone"),
        cols["scrubbed"].alias("scrubbed"),
    ).orderBy("doc_id")


def q_token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/token-set Jaccard near-dup pairs within a language block.

    Test/oracle scale uses an all-pairs-within-lang join; the production
    path is the LSH pipeline (q_minhash_clusters)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select("doc_id", "lang", toks.alias("ts"))
    a = d.select(
        F.col("lang"), F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a")
    )
    b = d.select(
        F.col("lang"), F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b")
    )
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size(F.array_union("ts_a", "ts_b"))
    return (
        a.join(b, "lang")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster stats (cluster_stats, suricate/explore/base.py:59-78):
    kbins over the pair score, then per-cluster mean of the row-mean score
    + labeled match share.  Pair space = all pairs within a language block,
    labels = jaccard >= 0.9 (deterministic, SQL-replayable)."""
    from webdedup.triage import cluster_stats, kbins_cluster

    docs = _read(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select("doc_id", "lang", toks.alias("ts"))
    a = d.select("lang", F.col("doc_id").alias("url_a"), F.col("ts").alias("ts_a"))
    b = d.select("lang", F.col("doc_id").alias("url_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size(F.array_union("ts_a", "ts_b"))
    pairs = (
        a.join(b, "lang")
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b", F.round(inter / union, 6).alias("jaccard"))
    )
    clustered = kbins_cluster(pairs, 5, cols=["jaccard"])
    labels = pairs.select(
        "url_a", "url_b", (F.col("jaccard") >= 0.9).cast("int").alias("y_true")
    )
    out = cluster_stats(clustered, labels, cols=["jaccard"])
    return out.select(
        "cluster",
        F.round("avg_score", 6).alias("avg_score"),
        F.round("pct_match", 6).alias("pct_match"),
    ).orderBy(F.col("pct_match").desc(), "cluster")


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine pairs via relational sparse dot product (the
    VectorizerConnector equivalent, suricate/dftransformers/vectorizer.py) —
    shared-term self-join at oracle scale; production restricts to LSH
    candidates via webdedup.vectorizer.pair_cosine."""
    from webdedup.vectorizer import tfidf_weights

    docs = _read(spark, sf_dir, "documents").select(
        F.format_string("doc-%08d", F.col("doc_id")).alias("url"), "text"
    )
    w = tfidf_weights(docs)
    wa = w.select(F.col("url").alias("url_a"), "term", F.col("w").alias("w_a"))
    wb = w.select(F.col("url").alias("url_b"), "term", F.col("w").alias("w_b"))
    return (
        wa.join(wb, "term")
        .where(F.col("url_a") < F.col("url_b"))
        .groupBy("url_a", "url_b")
        .agg(F.round(F.sum(F.col("w_a") * F.col("w_b")), 6).alias("tfidf_cosine"))
        .where(F.col("tfidf_cosine") >= 0.9)
        .orderBy("url_a", "url_b")
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over embeddings."""
    from pyspark.sql import Window as W

    emb = _read(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    dot = F.aggregate(
        F.zip_with("q", "embedding", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # broadcast the tiny query set and stream the big table (the audit showed
    # Spark defaulting to broadcasting the right/large side of the crossJoin).
    # norms are computed once per vector per side BEFORE the join — inside
    # the join they re-evaluate per pair (interpreted aggregate, 3x cost).
    scored = (
        emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("c_norm"))
        .crossJoin(F.broadcast(queries))
        .where(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", dot / (F.col("q_norm") * F.col("c_norm")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos", 4).alias("cosine"),
        )
        .orderBy("query_id", "rank")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic over text (text-analysis op).
    Staged form: one tokenize + one marker count per language per row."""
    from webdedup.textstats import with_lang_id

    docs = _read(spark, sf_dir, "documents")
    return (
        with_lang_id(docs, "text", "lang_pred")
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")
    )


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling k-gram min-hash document fingerprint (md5 portable variant).
    Token array staged before the window HOF (gram_array's trap)."""
    from webdedup.textstats import rolling_fingerprint_from_tokens, ws_tokens

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", ws_tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            rolling_fingerprint_from_tokens(
                F.col("__toks"), k=5, hash_fn="md5"
            ).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (all-pairs at oracle scale; the
    production path is q_ann_rp_lsh's block-join)."""
    emb = _read(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("norm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("norm_b"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("norm_a") * F.col("norm_b")), 6))
        .where(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


def q_ann_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k — the scale path of
    similarity search.  Driver variant uses the PORTABLE hyperplanes
    (md5-derived integers + floor-quantized vectors, ann.
    make_portable_sign_signature_udf) so the DuckDB oracle replays the
    FULL algorithm — sign bits, prefix blocks, block-bucket candidate
    join, cosine re-rank — bit-for-bit; the production gaussian-plane
    path is recall-asserted in tests/test_ann_multimodal.py."""
    from webdedup.ann import rp_lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = rp_lsh_topk(
        emb, queries, k=10, dim=64, n_bits=64, n_blocks=8, planes="portable"
    )
    return out.withColumn("cosine", F.round("cosine", 4)).orderBy("query_id", "rank")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-file (IVF-Flat) approximate top-k — the cell-partitioned
    scale path of similarity search (webdedup.ann.ivf_topk).  Driver variant
    uses PORTABLE centroids (md5-sampled corpus vectors + floor-quantized
    integer L2, ann.portable_centroids) so the DuckDB oracle replays the
    FULL algorithm — centroid choice, cell assignment, n_probe cell probing,
    cosine re-rank — bit-for-bit; the production KMeans-trained path is
    recall-asserted in tests/test_ann_multimodal.py."""
    from webdedup.ann import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=10, n_cells=16, n_probe=4, centroids="portable")
    return out.withColumn("cosine", F.round("cosine", 4)).orderBy("query_id", "rank")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (webdedup.semantic): IVF cells as the
    blocking stage, within-cell cosine >= tau pairs, connected components,
    one keeper per component.  Driver variant uses PORTABLE centroids so
    the oracle replays centroid choice, cell assignment, the pair set and
    the components (recursive CTE) exactly; tau=0.45 is calibrated to the
    synthetic embeddings (near-random vectors, max pairwise cosine ~0.5 —
    real SemDeDup operates at ~0.95 on real encoder output)."""
    from webdedup.scope import Scope
    from webdedup.semantic import semantic_dedup

    emb = _read(spark, sf_dir, "embeddings")
    with Scope() as scope:
        out, _skew = semantic_dedup(
            emb, tau=0.45, n_cells=16, centroids="portable", scope=scope
        )
        res = out.localCheckpoint()
    return res.orderBy("id")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: magic-byte sniff + stubbed decode/feature-extract
    over binary payloads (non-SQL: mapInPandas)."""
    from webdedup.multimodal import extract_features

    docs = _read(spark, sf_dir, "documents")
    media = _docs_as_pages(docs).select("url", F.col("html").alias("payload"))
    out = extract_features(media, decode_stub="fake")
    # cast to double BEFORE rounding: round() on a float32 keeps float32,
    # whose float64 upcast (0.0010000000474974513) breaks oracle hash parity
    return out.select(
        "url",
        "media_type",
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"),
    ).orderBy("url")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation (SURVEY §2.5 aggregation surface)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group window (maps the reference's es_rank top-k,
    esconnector.py:289-294)."""
    from pyspark.sql import Window as W

    orders = _read(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "rank")
        .orderBy("o_custkey", "rank")
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events stream table: a >30-min
    silence starts a new session (the standard clickstream shape: lag ->
    flag -> running sum -> two-level agg).  Gaps compare exact integer
    microseconds (unix_micros / epoch_us) so Spark and the DuckDB oracle
    make bit-identical session splits.  At scale: one exchange on user_id
    serves the lag window, the running sum, and the per-session agg (all
    keyed by user); no corpus-wide hot key exists (keys are users)."""
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; the session runs UTC, so the cast to TIMESTAMP
    # is a pure reinterpretation and unix_micros matches DuckDB's epoch_us
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    gap_us = us(F.col("ts")) - us(F.lag("ts").over(w))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn(
        "sid",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count("*").alias("sess_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.max("sid").alias("n_sessions"),
            F.sum("sess_events").alias("n_events"),
            F.max("sess_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline: customer x orders x nation with broadcast dims
    (maps the SBS two-join pattern, cartesian.py:168-188)."""
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    nation = _read(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("n_name")
    )


def q_golden_record_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record aggregation policies first/last/count/sum over events
    (maps suricate/grouping.py:224-322 _agginfo policies)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min_by("event_type", "ts").alias("first_type"),
            F.max_by("event_type", "ts").alias("last_type"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


def q_sample_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-cluster sampling (maps SimpleQuestions,
    explore/base.py:22-43): 3 docs per lang by hash order."""
    from pyspark.sql import Window as W

    docs = _read(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH near-dup clustering of the documents table (non-SQL:
    pandas-UDF signatures + iterative CC -> rows-only check)."""
    from webdedup.scope import Scope

    docs = _read(spark, sf_dir, "documents")
    with Scope() as scope:
        pages = scope.persist(_docs_as_pages(docs))
        out = _run_dedup(scope, spark, pages, with_substring=False, with_golden=False)
        res = out["clusters"].localCheckpoint()
    return res.orderBy("url")


def q_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper per duplicate cluster — the keep-best-copy
    dedup policy (FineWeb/SemDeDup style): within each gid keep the member
    with the highest unique-token ratio, smallest url on ties, instead of
    synthesizing a golden record.  One window shuffle on gid on top of the
    flagship clustering (webdedup.cluster.keep_best)."""
    from webdedup.cluster import default_keeper_score, keep_best
    from webdedup.scope import Scope

    docs = _read(spark, sf_dir, "documents")
    with Scope() as scope:
        pages = scope.persist(_docs_as_pages(docs))
        out = _run_dedup(scope, spark, pages, with_substring=False, with_golden=False)
        # explicit whitespace class (not \s): Java \s includes \x0B, RE2/DuckDB
        # \s does not — default_keeper_score pins '[ \t\n\r\f]+' on both sides
        quality = pages.select(
            "url", default_keeper_score("text").alias("keeper_score")
        )
        clustered = out["clusters"].join(quality, "url")
        members = clustered.groupBy("gid").agg(F.count("*").alias("n_members"))
        keepers = keep_best(clustered, "keeper_score").select(
            "gid", F.col("url").alias("keeper"), "keeper_score"
        )
        res = keepers.join(members, "gid").localCheckpoint()
    return res.orderBy("gid")


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures — portable md5 variant (shingle hash = first 8
    md5 digest bytes) so the DuckDB oracle can recompute the exact 64-bit
    signature.  Same tokenize/shingle/sign-sum semantics as the production
    splitmix64 path (make_simhash_udf); pandas-UDF batch execution."""
    from webdedup.normalize import tokens
    from webdedup.signatures import (
        make_portable_simhash_udf,
        shingle_strings_from_tokens,
    )

    from webdedup.scope import Scope

    docs = _read(spark, sf_dir, "documents")
    toks_df = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    udf = make_portable_simhash_udf(64)
    with Scope() as scope:
        sh = scope.persist(
            toks_df.select(
                "doc_id",
                F.size("toks").alias("n_tokens"),
                shingle_strings_from_tokens(F.col("toks"), 2).alias("sh_strs"),
            )
        )
        res = (
            sh.withColumn("simhash", udf("sh_strs"))
            .select("doc_id", "n_tokens", "simhash")
            .localCheckpoint()
        )
    return res.orderBy("doc_id")


def q_substring_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-anchor substring pass over documents: winnowing-anchor
    blocking + exploded-gram self-join verification (exact >=120-char
    shared-window certificates)."""
    from webdedup.candidates import doc_ids, rejoin_urls
    from webdedup.config import DedupConfig
    from webdedup.scope import Scope
    from webdedup.substring import substring_candidates, verify_overlaps

    cfg = DedupConfig(min_overlap_chars=120)
    docs = _read(spark, sf_dir, "documents")
    pages = _docs_as_pages(docs)
    with Scope() as scope:
        # did space end-to-end, one url rejoin for the verified survivors
        pairs, _ = substring_candidates(pages, cfg, scope=scope)
        verified, _ = verify_overlaps(pairs, pages, cfg, scope=scope)
        res = rejoin_urls(verified, doc_ids(pages)).localCheckpoint()
    return res.orderBy("url_a", "url_b")


def q_dedup_tier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered-dedup attribution report: how many duplicate pairs each tier
    of the cascade catches, with precedence exact > near > substring — the
    audit table a tiered deployment reads to tune thresholds and decide
    which (expensive) tiers pay for themselves.

    Tier semantics are PORTABLE (text-hash equality + exact bigram-shingle
    Jaccard + 120-char shared-window certificates), so the oracle replays
    them brute-force; the Spark side generates pair candidates with the
    production machinery (LSH bands/blocks, winnowing anchors), whose
    blocking recall is 1.0 at oracle scale (same verified assumption
    minhash_clusters' green oracle rests on).

      exact:     star pairs within identical-text groups, sum(n-1)
      near:      pairs with shingle Jaccard >= jaccard_threshold whose
                 texts differ (found via minhash+simhash LSH)
      substring: verified >=120-char-window pairs not already exact/near
      candidates_dropped: total capped bucket mass (rows) the blocking
                 stages dropped (oracle pins 0) — when the engine-vs-
                 brute-force comparison ever diverges at scale, this row
                 attributes it to the caps instead of a bare hash mismatch

    ORACLE BINDING (round-5): the near/substring tiers are counted over
    the ENGINE's candidate pair set, which this query exports to
    /tmp/webdedup_oracle_aux/tier_{{near,substring}}_pairs so the DuckDB
    oracle joins the SAME pairs and replays only the tier semantics
    (exact shingle Jaccard vs threshold, text-hash inequality,
    precedence) — deterministic at ANY sf.  Without the binding a plain
    MinHash detection miss (P~=0.996 per pair at J=0.5) against a
    brute-force oracle surfaces as a bare count mismatch at larger sf.
    End-to-end LSH recall vs brute force stays independently tested by
    minhash_clusters' oracle and the recall pytest gates; the exact tier
    and the candidates_dropped audit row remain brute-force/pinned.
    """
    from webdedup.candidates import (
        did,
        doc_ids,
        minhash_candidates,
        rejoin_urls,
        simhash_candidates,
        union_candidates,
    )
    from webdedup.config import DedupConfig
    from webdedup.normalize import tokens
    from webdedup.scope import Scope
    from webdedup.signatures import compute_signatures, shingle_strings_from_tokens
    from webdedup.substring import substring_candidates, verify_overlaps

    cfg = DedupConfig(min_overlap_chars=120)
    docs = _read(spark, sf_dir, "documents")
    with Scope() as scope:
        pages = scope.persist(_docs_as_pages(docs))

        exact_n = (
            pages.groupBy(F.md5("text"))
            .agg((F.count("*") - F.lit(1)).alias("m"))
            .agg(F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("n_pairs"))
            .select(F.lit("exact").alias("tier"), "n_pairs")
        )

        # attribution basis per doc: exact bigram-shingle set + text hash
        attrs = scope.persist(
            pages.select(
                did(F.col("url")).alias("did"),
                shingle_strings_from_tokens(tokens(F.col("text")), cfg.shingle_k).alias("s"),
                F.md5("text").alias("h"),
            )
        )

        def attributed(pairs_did: DataFrame) -> DataFrame:
            # candidate pairs are UDF/agg-derived (planner estimates unusable)
            # and attrs carries the shingle arrays — pin shuffle_hash like
            # rejoin_urls does for the same shape
            a = attrs.select(
                F.col("did").alias("did_a"), F.col("s").alias("sa"), F.col("h").alias("ha")
            )
            b = attrs.select(
                F.col("did").alias("did_b"), F.col("s").alias("sb"), F.col("h").alias("hb")
            )
            j = pairs_did.join(a.hint("shuffle_hash"), "did_a").join(
                b.hint("shuffle_hash"), "did_b"
            )
            inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
            union = F.size(F.array_union(F.col("sa"), F.col("sb")))
            return j.withColumn(
                "jacc", F.when(union > 0, inter / union).otherwise(F.lit(0.0))
            )

        signatures = compute_signatures(pages, cfg)
        mh, mh_skew = minhash_candidates(signatures, cfg)
        sh, sh_skew = simhash_candidates(signatures, cfg)
        # materialize each candidate set ONCE: the tier aggregate and the
        # oracle-binding export below both consume it (blocks freed with the
        # scope, after the output materializes)
        near_cand = scope.checkpoint(union_candidates(mh, sh).select("did_a", "did_b"))
        near_n = (
            attributed(near_cand)
            .where(
                (F.col("jacc") >= cfg.jaccard_threshold) & (F.col("ha") != F.col("hb"))
            )
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .select(F.lit("near").alias("tier"), "n_pairs")
        )

        ss_pairs, ss_skew = substring_candidates(pages, cfg, scope=scope)
        verified, v_skew = verify_overlaps(ss_pairs, pages, cfg, scope=scope)
        sub_cand = scope.checkpoint(verified.select("did_a", "did_b"))
        sub_n = (
            attributed(sub_cand)
            .where(
                (F.col("jacc") < cfg.jaccard_threshold) & (F.col("ha") != F.col("hb"))
            )
            .agg(F.count("*").cast("bigint").alias("n_pairs"))
            .select(F.lit("substring").alias("tier"), "n_pairs")
        )

        # export the candidate sets the oracle binds to (url space — the
        # oracle parses doc ids back out of the canonical 'doc-%08d' urls).
        # literal /tmp, NOT tempfile.gettempdir(): the oracle SQL string below
        # hardcodes the same path, and a TMPDIR override must not split them
        from pathlib import Path as _P

        aux = _P("/tmp") / "webdedup_oracle_aux"
        ids = doc_ids(pages)
        rejoin_urls(near_cand, ids).write.mode("overwrite").parquet(
            str(aux / "tier_near_pairs")
        )
        rejoin_urls(sub_cand, ids).write.mode("overwrite").parquet(
            str(aux / "tier_substring_pairs")
        )

        # capped-mass audit row: the Spark side blocks with LSH bands/anchors
        # whose over-cap buckets are DROPPED (with reported mass) while the
        # oracle brute-forces all pairs, so a divergence at larger scale is
        # attributable here instead of surfacing only as a hash mismatch — the
        # oracle pins 0, and any nonzero capped mass shows up in THIS row
        dropped_n = (
            mh_skew.unionByName(sh_skew).unionByName(ss_skew).unionByName(v_skew)
            .agg(F.coalesce(F.sum("dropped_rows"), F.lit(0)).cast("bigint").alias("n_pairs"))
            .select(F.lit("candidates_dropped").alias("tier"), "n_pairs")
        )

        out = (
            exact_n.unionByName(near_n)
            .unionByName(sub_n)
            .unionByName(dropped_n)
            .orderBy("tier")
        )
        return out.localCheckpoint()  # materialize before the scope frees its blocks


def q_explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-method retrieval 'explain' breakdown — the ES explain-API
    equivalent (suricate/dbconnectors/esconnector.py:237-294, which drills
    each field's score out of the explanation JSON): one score column per
    retrieval method, NULL when that method did not retrieve the pair.
    Restricted here to the two oracle-replayable methods (exact text hash,
    substring overlap); the minhash/simhash columns ride along as NULL so
    the operator surface (features.explain_scores) is exercised verbatim."""
    from webdedup.candidates import (
        doc_ids,
        exact_candidates,
        rejoin_urls,
        union_candidates,
    )
    from webdedup.config import DedupConfig
    from webdedup.features import build_sbs, contains_score, explain_scores
    from webdedup.scope import Scope
    from webdedup.substring import substring_candidates, verify_overlaps

    cfg = DedupConfig(min_overlap_chars=120)
    docs = _read(spark, sf_dir, "documents")
    with Scope() as scope:
        pages = scope.persist(_docs_as_pages(docs))
        ex = exact_candidates(pages)
        ss_raw, _ = substring_candidates(pages, cfg, scope=scope)
        verified, _ = verify_overlaps(ss_raw, pages, cfg, scope=scope)
        ss = verified.select("did_a", "did_b").withColumn("method", F.lit("substring"))
        # union in did space, then the one url rejoin
        pairs = rejoin_urls(union_candidates(ex, ss), doc_ids(pages))
        sbs = build_sbs(pairs, pages.select("url", "text"), ["text"])
        feats = sbs.select(
            "url_a",
            "url_b",
            "methods",
            F.lit(None).cast("double").alias("minhash_sim"),
            F.lit(None).cast("double").alias("simhash_sim"),
            contains_score(F.col("text_source"), F.col("text_target")).alias(
                "contains"
            ),
        )
        out = explain_scores(feats)
        res = out.select(
            "url_a",
            "url_b",
            F.array_join("methods", ",").alias("methods"),
            "exact_score",
            "minhash_score",
            "simhash_score",
            "substring_score",
        ).localCheckpoint()
    return res.orderBy("url_a", "url_b")


def q_candidate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source candidate ranking over the pair space — the es_rank/top-k
    retrieval semantic (esconnector.py:289-294) on the token-Jaccard
    candidate space: rank per doc_a by score desc, keep k=5."""
    from webdedup.candidates import rank_candidates

    pairs = q_token_jaccard_pairs(spark, sf_dir).withColumnRenamed(
        "doc_a", "url_a"
    ).withColumnRenamed("doc_b", "url_b")
    ranked = rank_candidates(pairs, "jaccard", k=5)
    return ranked.select(
        F.col("url_a").alias("doc_a"), F.col("url_b").alias("doc_b"), "jaccard", "rank"
    ).orderBy("doc_a", "rank")


def q_id_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id normalization (idtostr, suricate/preutils/preprocessing.py:6-75):
    separator strip + leading-zero strip + NA canon over the numeric tail of
    customer names ('Customer#000000001' -> '#000000001' -> '1')."""
    from webdedup.normalize import id_to_str

    cust = _read(spark, sf_dir, "customer")
    raw_id = F.substring_index(F.col("c_name"), "Customer", -1)
    return cust.select(
        "c_custkey", id_to_str(raw_id).alias("id_norm")
    ).orderBy("c_custkey")


def q_sbs_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-by-side cartesian view with suffixed columns (DfVisualSbs /
    cartesian_join, suricate/dftransformers/cartesian.py:64-193)."""
    region = _read(spark, sf_dir, "region")
    src = region.select(
        F.col("r_regionkey").alias("ix_source"), F.col("r_name").alias("r_name_source")
    )
    tgt = region.select(
        F.col("r_regionkey").alias("ix_target"), F.col("r_name").alias("r_name_target")
    )
    return src.crossJoin(tgt).select(
        "ix_source", "ix_target", "r_name_source", "r_name_target"
    ).orderBy("ix_source", "ix_target")


def q_triage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triage 0/1/2 class assignment + distribution over the pair space
    (PruningPipe slicing semantics, pruningpipe.py:95-103), on the
    SQL-expressible token-Jaccard score so DuckDB can replay it."""
    pairs = q_token_jaccard_pairs(spark, sf_dir)
    triage = (
        F.when(F.col("jaccard") >= 0.95, 2)
        .when(F.col("jaccard") < 0.85, 0)
        .otherwise(1)
    )
    return (
        pairs.withColumn("triage", triage)
        .groupBy("triage")
        .agg(F.count("*").alias("n_pairs"), F.round(F.avg("jaccard"), 6).alias("avg_score"))
        .orderBy("triage")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_exact_keep": q_dedup_exact_keep,
        "lang_distribution": q_lang_distribution,
        "token_counts": q_token_counts,
        "bpe_token_counts": q_bpe_token_counts,
        "quality_scores": q_quality_scores,
        "doc_fingerprint": q_doc_fingerprint,
        "token_jaccard_pairs": q_token_jaccard_pairs,
        "events_windowed": q_events_windowed,
        "user_sessions": q_user_sessions,
        "repetition_stats": q_repetition_stats,
        "chunk_dedup": q_chunk_dedup,
        "decontaminate": q_decontaminate,
        "incremental_dedup": q_incremental_dedup,
        "mix_corpus": q_mix_corpus,
        "pii_scrub": q_pii_scrub,
        "gopher_filter": q_gopher_filter,
        "lang_id": q_lang_id,
        "rolling_fingerprint": q_rolling_fingerprint,
        "embedding_neardup": q_embedding_neardup,
        "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_rp_lsh": q_ann_rp_lsh,
        "ann_ivf": q_ann_ivf,
        "semantic_dedup": q_semantic_dedup,
        "media_features": q_media_features,
        "pricing_summary": q_pricing_summary,
        "top_orders_per_customer": q_top_orders_per_customer,
        "nation_revenue": q_nation_revenue,
        "golden_record_users": q_golden_record_users,
        "sample_questions": q_sample_questions,
        "minhash_clusters": q_minhash_clusters,
        "cluster_keepers": q_cluster_keepers,
        "simhash_signatures": q_simhash_signatures,
        "substring_overlaps": q_substring_overlaps,
        "dedup_tier_counts": q_dedup_tier_counts,
        "explain_scores": q_explain_scores,
        "candidate_topk": q_candidate_topk,
        "id_normalize": q_id_normalize,
        "sbs_interleaved": q_sbs_interleaved,
        "triage_counts": q_triage_counts,
        "cluster_stats": q_cluster_stats,
    }


def oracle_sql() -> dict[str, str]:
    from webdedup.normalize import _ACCENTS_DST, _ACCENTS_SRC, _SEP_REGEX
    from webdedup.textstats import bpe_token_count_sql, lang_id_sql

    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    # the exact tokenizer of webdedup.normalize.tokens(), as DuckDB SQL
    _TOKS = (
        "list_filter(regexp_split_to_array(trim(lower(translate(text, "
        f"'{_ACCENTS_SRC}', '{_ACCENTS_DST}'))), '{_SEP_REGEX}'), x -> x <> '')"
    )
    _LANG_ID_ORACLE = (
        f"SELECT doc_id, {lang_id_sql('text')} AS lang_pred "
        "FROM documents ORDER BY doc_id"
    )
    return {
        "dedup_exact_groups": """
            SELECT md5(text) AS text_md5,
                   count(*) AS n_docs,
                   min(doc_id) AS keeper_id
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "dedup_exact_keep": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1 ORDER BY doc_id
        """,
        "lang_distribution": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f]+')) END AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "bpe_token_counts": f"""
            SELECT doc_id, {bpe_token_count_sql("text")} AS n_bpe_tokens
            FROM documents ORDER BY doc_id
        """,
        "quality_scores": rf"""
            WITH t AS (
              SELECT doc_id, length(text) AS n_chars_calc,
                     regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents
            )
            SELECT doc_id, n_chars_calc,
                   len(toks) AS n_tokens,
                   round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS uniq_ratio,
                   round(len(list_filter(toks, x -> x IN ({stop_list}))) * 1.0 / len(toks), 6)
                     AS stopword_ratio
            FROM t ORDER BY doc_id
        """,
        "user_sessions": """
            WITH flags AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800 * 1000000
                          OR lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            ), sess AS (
              SELECT user_id,
                     sum(new_sess) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
              FROM flags
            ), per_session AS (
              SELECT user_id, sid, count(*) AS sess_events
              FROM sess GROUP BY user_id, sid
            )
            SELECT user_id,
                   CAST(max(sid) AS BIGINT) AS n_sessions,
                   CAST(sum(sess_events) AS BIGINT) AS n_events,
                   CAST(max(sess_events) AS BIGINT) AS max_session_events
            FROM per_session GROUP BY user_id ORDER BY user_id
        """,
        "events_windowed": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "repetition_stats": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
              FROM t, unnest(range(1, len(toks))) AS r(i)
              WHERE len(toks) >= 2
            ), pg AS (
              SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
            ), s AS (
              SELECT doc_id, sum(c) AS n_grams,
                     round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0
                           / sum(c), 6) AS dup_gram_frac,
                     round(max(c) * 1.0 / sum(c), 6) AS top_gram_share
              FROM pg GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                   coalesce(s.dup_gram_frac, 0.0) AS dup_gram_frac,
                   coalesce(s.top_gram_share, 0.0) AS top_gram_share
            FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id
        """,
        "pii_scrub": _pii_scrub_oracle(),
        "gopher_filter": rf"""
            WITH t AS (
              SELECT doc_id, length(text) AS nc,
                     CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
                     length(regexp_replace(text, '[^\p{{L}}\p{{N}}]', '', 'g'))
                       AS al
              FROM documents
            ), s AS (
              SELECT doc_id, nc, len(toks) AS nt,
                     len(list_filter(toks, x -> x IN ({stop_list}))) AS stop,
                     al,
                     length(array_to_string(toks, '')) AS tlen
              FROM t
            ), g AS (
              SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
              FROM t, unnest(range(1, len(toks))) AS r(i)
              WHERE len(toks) >= 2
            ), pg AS (
              SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
            ), rep AS (
              SELECT doc_id,
                     round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0
                           / sum(c), 6) <= 0.5 AS ok_repetition
              FROM pg GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CAST(nt AS BIGINT) AS n_tokens,
                   nt BETWEEN 50 AND 100000 AS ok_length,
                   tlen * 1.0 / greatest(nt, 1) BETWEEN 3.0 AND 10.0
                     AS ok_mean_len,
                   al * 1.0 / greatest(nc, 1) >= 0.6 AS ok_alnum,
                   stop >= 2 AS ok_stopwords,
                   coalesce(rep.ok_repetition, TRUE) AS ok_repetition,
                   (nt BETWEEN 50 AND 100000)
                     AND (tlen * 1.0 / greatest(nt, 1)
                          BETWEEN 3.0 AND 10.0)
                     AND (al * 1.0 / greatest(nc, 1) >= 0.6)
                     AND (stop >= 2)
                     AND coalesce(rep.ok_repetition, TRUE) AS keep
            FROM s LEFT JOIN rep USING (doc_id)
            ORDER BY s.doc_id
        """,
        "decontaminate": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents
            ), g AS (
              SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS g
              FROM t, unnest(range(1, len(toks) - 6)) AS r(i)
              WHERE len(toks) >= 8
            ), bg AS (
              SELECT DISTINCT g FROM g WHERE doc_id % 5 = 0
            ), cg AS (
              SELECT doc_id, g FROM g WHERE doc_id % 5 <> 0
            ), hits AS (
              SELECT doc_id, count(*) AS n_contaminated
              FROM cg JOIN bg USING (g) GROUP BY doc_id
            ), totals AS (
              SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(totals.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(hits.n_contaminated, 0) AS BIGINT)
                     AS n_contaminated,
                   round(coalesce(hits.n_contaminated, 0) * 1.0
                         / greatest(coalesce(totals.n_grams, 0), 1), 6)
                     AS contaminated_frac,
                   coalesce(hits.n_contaminated, 0) >= 1 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0) d
            LEFT JOIN totals USING (doc_id)
            LEFT JOIN hits USING (doc_id)
            ORDER BY d.doc_id
        """,
        "chunk_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents
            ), u AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS unit
              FROM t, unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS r(i)
            ), hotness AS (
              SELECT unit, count(DISTINCT doc_id) >= 2 AS is_hot
              FROM u GROUP BY unit
            ), flagged AS (
              SELECT u.*, h.is_hot,
                     row_number() OVER (PARTITION BY u.unit
                                        ORDER BY u.doc_id, u.pos) AS rn
              FROM u JOIN hotness h USING (unit)
            ), kept AS (
              SELECT * FROM flagged WHERE NOT is_hot OR rn = 1
            ), reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(unit, ' ' ORDER BY pos) AS cleaned_text
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, count(*) AS n_units FROM u GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(tot.n_units, 0) AS n_units,
                   coalesce(tot.n_units, 0) - coalesce(reb.n_kept, 0) AS n_removed,
                   coalesce(reb.cleaned_text, '') AS cleaned_text
            FROM documents d
            LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
            ORDER BY d.doc_id
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                        regexp_split_to_array(trim(text), '\s+'))), ' ')) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "cluster_stats": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
              FROM documents
            ), p AS (
              SELECT round(len(list_intersect(a.ts, b.ts)) * 1.0 /
                           (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
                           6) AS jaccard
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            ), mm AS (SELECT min(jaccard) AS lo, max(jaccard) AS hi FROM p),
            c AS (
              SELECT jaccard,
                     CASE WHEN hi <= lo THEN 0
                          ELSE least(greatest(CAST(floor((jaccard - lo) /
                                     ((hi - lo) / 5.0)) AS INT), 0), 4)
                     END AS cluster
              FROM p CROSS JOIN mm
            )
            SELECT cluster, round(avg(jaccard), 6) AS avg_score,
                   round(sum(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) * 1.0 /
                         count(*), 6) AS pct_match
            FROM c GROUP BY cluster ORDER BY pct_match DESC, cluster
        """,
        "minhash_clusters": f"""
            WITH RECURSIVE tk AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1]))
                          ELSE [array_to_string(toks, ' ')] END AS s
              FROM tk
            ), p AS (
              -- brute-force truth: the LSH pipeline's decision predicate is
              -- exact-text OR shingle-jaccard >= 0.5; blocking recall at this
              -- scale is 1.0 (verified), so CC over the true edge set matches
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
              UNION
              SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
              ON a.doc_id < b.doc_id AND a.text = b.text
            ), e AS (
              SELECT da AS src, db AS dst FROM p UNION SELECT db, da FROM p
            ), reach(a, b) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
            )
            SELECT printf('doc-%08d', a) AS url, printf('doc-%08d', min(b)) AS gid
            FROM reach GROUP BY a ORDER BY url
        """,
        "cluster_keepers": rf"""
            WITH RECURSIVE tk AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1]))
                          ELSE [array_to_string(toks, ' ')] END AS s
              FROM tk
            ), p AS (
              SELECT a.doc_id AS da, b.doc_id AS db
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s)) * 1.0 /
                    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
              UNION
              SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
              ON a.doc_id < b.doc_id AND a.text = b.text
            ), e AS (
              SELECT da AS src, db AS dst FROM p UNION SELECT db, da FROM p
            ), reach(a, b) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
            ), cl AS (
              SELECT a AS did, min(b) AS gid FROM reach GROUP BY a
            ), q AS (
              SELECT doc_id,
                     round(len(list_distinct(t2)) * 1.0 / len(t2), 6) AS q
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '[ \t\n\r\f]+') AS t2
                    FROM documents)
            ), ranked AS (
              SELECT cl.gid, cl.did, q.q,
                     row_number() OVER (PARTITION BY cl.gid
                                        ORDER BY q.q DESC, cl.did ASC) AS rn
              FROM cl JOIN q ON q.doc_id = cl.did
            ), mem AS (
              SELECT gid, count(*) AS n_members FROM cl GROUP BY gid
            )
            SELECT printf('doc-%08d', r.gid) AS gid,
                   printf('doc-%08d', r.did) AS keeper,
                   r.q AS keeper_score,
                   mem.n_members
            FROM ranked r JOIN mem ON mem.gid = r.gid
            WHERE r.rn = 1 ORDER BY gid
        """,
        "explain_scores": """
            WITH ex AS (
              SELECT printf('doc-%08d', g.m) AS url_a,
                     printf('doc-%08d', d.doc_id) AS url_b,
                     'exact' AS method
              FROM (SELECT text, min(doc_id) AS m, count(*) AS c
                    FROM documents GROUP BY text) g
              JOIN documents d ON d.text = g.text AND d.doc_id <> g.m
              WHERE g.c >= 2
            ), w AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, length(text) - 118),
                            i -> substr(text, i, 120)))) AS g
              FROM documents WHERE length(text) >= 120
            ), ss AS (
              SELECT DISTINCT printf('doc-%08d', a.doc_id) AS url_a,
                     printf('doc-%08d', b.doc_id) AS url_b,
                     'substring' AS method
              FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
            ), u AS (
              SELECT url_a, url_b, method FROM ex
              UNION ALL SELECT url_a, url_b, method FROM ss
            ), p AS (
              SELECT url_a, url_b,
                     string_agg(DISTINCT method, ',' ORDER BY method) AS methods
              FROM u GROUP BY 1, 2
            )
            SELECT p.url_a, p.url_b, p.methods,
                   CASE WHEN p.methods LIKE '%exact%' THEN 1.0 END
                     AS exact_score,
                   CAST(NULL AS DOUBLE) AS minhash_score,
                   CAST(NULL AS DOUBLE) AS simhash_score,
                   CASE WHEN p.methods LIKE '%substring%' THEN
                     CASE WHEN position(db.text IN da.text) > 0
                            OR position(da.text IN db.text) > 0
                          THEN 1.0 ELSE 0.0 END
                   END AS substring_score
            FROM p
            JOIN documents da ON printf('doc-%08d', da.doc_id) = p.url_a
            JOIN documents db ON printf('doc-%08d', db.doc_id) = p.url_b
            ORDER BY p.url_a, p.url_b
        """,
        "substring_overlaps": """
            WITH w AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, length(text) - 118),
                            i -> substr(text, i, 120)))) AS g
              FROM documents WHERE length(text) >= 120
            )
            SELECT printf('doc-%08d', a.doc_id) AS url_a,
                   printf('doc-%08d', b.doc_id) AS url_b,
                   count(*) AS n_shared_grams
            FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2 ORDER BY url_a, url_b
        """,
        "dedup_tier_counts": f"""
            -- BOUND to the engine's exported candidate sets (the Spark
            -- query writes them to /tmp/webdedup_oracle_aux before this
            -- runs): the oracle replays the TIER SEMANTICS — exact bigram-
            -- shingle Jaccard vs threshold, text-hash inequality,
            -- precedence — over the same pairs, so the comparison is
            -- deterministic at any sf instead of P~=0.996-per-pair against
            -- a brute-force pair space (LSH end-to-end recall stays
            -- independently oracled by minhash_clusters)
            WITH tk AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1]))
                          ELSE [array_to_string(toks, ' ')] END AS s
              FROM tk
            ), tx AS (
              SELECT doc_id, md5(text) AS h FROM documents
            ), nearp AS (
              SELECT DISTINCT
                     least(CAST(substr(url_a, 5) AS BIGINT),
                           CAST(substr(url_b, 5) AS BIGINT)) AS da,
                     greatest(CAST(substr(url_a, 5) AS BIGINT),
                              CAST(substr(url_b, 5) AS BIGINT)) AS db
              FROM read_parquet('/tmp/webdedup_oracle_aux/tier_near_pairs/*.parquet')
            ), subp AS (
              SELECT DISTINCT
                     least(CAST(substr(url_a, 5) AS BIGINT),
                           CAST(substr(url_b, 5) AS BIGINT)) AS da,
                     greatest(CAST(substr(url_a, 5) AS BIGINT),
                              CAST(substr(url_b, 5) AS BIGINT)) AS db
              FROM read_parquet('/tmp/webdedup_oracle_aux/tier_substring_pairs/*.parquet')
            ), jp AS (
              SELECT p.da, p.db,
                     len(list_intersect(a.s, b.s)) * 1.0 /
                     (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
              FROM (SELECT da, db FROM nearp UNION SELECT da, db FROM subp) p
              JOIN sh a ON a.doc_id = p.da JOIN sh b ON b.doc_id = p.db
            ), ex AS (
              SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS c
              FROM (SELECT count(*) AS c FROM documents GROUP BY md5(text)) g
            ), near AS (
              SELECT count(*) AS c FROM nearp p
              JOIN jp ON jp.da = p.da AND jp.db = p.db
              JOIN tx a ON a.doc_id = p.da JOIN tx b ON b.doc_id = p.db
              WHERE jp.j >= 0.5 AND a.h <> b.h
            ), sub AS (
              SELECT count(*) AS c FROM subp p
              JOIN jp ON jp.da = p.da AND jp.db = p.db
              JOIN tx a ON a.doc_id = p.da JOIN tx b ON b.doc_id = p.db
              WHERE jp.j < 0.5 AND a.h <> b.h
            )
            SELECT 'exact' AS tier, c AS n_pairs FROM ex
            UNION ALL SELECT 'near', c FROM near
            UNION ALL SELECT 'substring', c FROM sub
            -- the engine blocks with capped buckets and reports its capped
            -- mass in this row (0 here): nonzero capped mass is the one
            -- thing that could make the bound candidate sets incomplete
            UNION ALL SELECT 'candidates_dropped', CAST(0 AS BIGINT)
            ORDER BY tier
        """,
        "simhash_signatures": f"""
            WITH tk AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id, len(toks) AS n_tokens,
                     CASE WHEN len(toks) >= 2
                          THEN list_distinct(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1]))
                          ELSE [array_to_string(toks, ' ')] END AS shingles
              FROM tk
            ), hs AS (
              SELECT doc_id, n_tokens, unnest(shingles) AS s FROM sh
            ), hv AS (
              SELECT doc_id, n_tokens,
                     ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h FROM hs
            ), b AS (
              SELECT doc_id, n_tokens, j,
                     sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS bsum
              FROM hv CROSS JOIN (SELECT unnest(range(0, 64)) AS j) bits
              GROUP BY doc_id, n_tokens, j
            ), p AS (
              SELECT doc_id, n_tokens,
                     sum(CASE WHEN bsum > 0 THEN (1::UBIGINT << j)::HUGEINT
                              ELSE 0::HUGEINT END) AS u
              FROM b GROUP BY doc_id, n_tokens
            )
            SELECT doc_id, n_tokens,
                   (CASE WHEN u >= 9223372036854775808
                         THEN u - 18446744073709551616 ELSE u END)::BIGINT AS simhash
            FROM p ORDER BY doc_id
        """,
        "media_features": """
            WITH h AS (SELECT doc_id, text, sha256(text) AS hx FROM documents)
            SELECT printf('doc-%08d', doc_id) AS url,
                   CASE WHEN substr(text, 1, 4) = 'GIF8' THEN 'image/gif'
                        WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
                        WHEN substr(text, 1, 4) = '<htm' THEN 'text/html'
                        WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
                        ELSE 'application/octet-stream' END AS media_type,
                   round((('0x' || substr(hx,7,2) || substr(hx,5,2) ||
                           substr(hx,3,2) || substr(hx,1,2))::UINTEGER % 1000)
                         / 1000.0, 4) AS f0
            FROM h ORDER BY url
        """,
        "token_jaccard_pairs": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
              FROM documents
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.ts, b.ts)) * 1.0 /
                         (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.ts, b.ts)) * 1.0 /
                        (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) >= 0.8
            ORDER BY doc_a, doc_b
        """,
        "lang_id": _LANG_ID_ORACLE,
        "mix_corpus": r"""
            WITH tc AS (
              SELECT doc_id, source,
                     CASE WHEN length(trim(COALESCE(text, ''))) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
              FROM documents
            ), tot AS (
              SELECT source, CAST(sum(nt) AS BIGINT) AS tok,
                     CAST(substr(source, 4) AS INT) + 1.0 AS w
              FROM tc GROUP BY source
            ), r AS (
              SELECT source, (SELECT min(tok / w) FROM tot) * w / tok AS rate
              FROM tot
            )
            SELECT tc.doc_id, tc.source
            FROM tc JOIN r USING (source)
            WHERE ('0x' || substr(md5(CAST(tc.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    % 1000000
                  < CAST(floor(rate * 1000000) AS UBIGINT)
            ORDER BY doc_id
        """,
        "incremental_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents
            ), fp AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 5 THEN
                       list_min(list_transform(range(0, len(toks) - 4),
                                i -> md5(array_to_string(toks[i+1:i+5], ' '))))
                     ELSE md5(array_to_string(toks, ' ')) END AS fingerprint
              FROM t
            )
            SELECT n.doc_id,
                   COALESCE(n.fingerprint IN
                     (SELECT fingerprint FROM fp WHERE doc_id % 5 <> 0), FALSE)
                     AS is_dup
            FROM fp n WHERE n.doc_id % 5 = 0 ORDER BY doc_id
        """,
        "rolling_fingerprint": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN len(toks) >= 5 THEN
                     list_min(list_transform(range(0, len(toks) - 4),
                              i -> md5(array_to_string(toks[i+1:i+5], ' '))))
                   ELSE md5(array_to_string(toks, ' ')) END AS fingerprint
            FROM t ORDER BY doc_id
        """,
        "embedding_neardup": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) *
                         sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
            ORDER BY id_a, id_b
        """,
        "tfidf_cosine_pairs": """
            WITH docs AS (
              SELECT format('doc-{:08d}', doc_id) AS url, text FROM documents
            ), terms AS (
              SELECT url, t.term, count(*) AS tf
              FROM docs, unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> length(x) >= 2)) AS t(term)
              GROUP BY url, t.term
            ), df AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM docs),
            w AS (
              SELECT url, term,
                     tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w_raw
              FROM terms JOIN df USING (term) CROSS JOIN n
            ), norms AS (
              SELECT url, sqrt(sum(w_raw * w_raw)) AS l2 FROM w GROUP BY url
            ), wn AS (
              SELECT url, term, w_raw / l2 AS w FROM w JOIN norms USING (url)
            )
            SELECT url_a, url_b, tfidf_cosine FROM (
              SELECT a.url AS url_a, b.url AS url_b,
                     round(sum(a.w * b.w), 6) AS tfidf_cosine
              FROM wn a JOIN wn b ON a.term = b.term AND a.url < b.url
              GROUP BY 1, 2
            ) WHERE tfidf_cosine >= 0.9 ORDER BY url_a, url_b
        """,
        "ann_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_dot_product(q.qv, e.embedding) /
                     (sqrt(list_dot_product(q.qv, q.qv)) *
                      sqrt(list_dot_product(e.embedding, e.embedding))) AS cos
              FROM q CROSS JOIN embeddings e
              WHERE q.query_id <> e.vec_id
            )
            SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine FROM (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rank
              FROM orders
            ) WHERE rank <= 3 ORDER BY o_custkey, rank
        """,
        "nation_revenue": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "golden_record_users": """
            SELECT user_id, count(*) AS n_events,
                   arg_min(event_type, ts) AS first_type,
                   arg_max(event_type, ts) AS last_type,
                   round(sum(value), 4) AS total_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "sample_questions": """
            SELECT lang, doc_id, rn FROM (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents
            ) WHERE rn <= 3 ORDER BY lang, rn
        """,
        "candidate_topk": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
              FROM documents
            ), p AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     round(len(list_intersect(a.ts, b.ts)) * 1.0 /
                           (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) AS jaccard
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            ), f AS (
              SELECT doc_a, doc_b, jaccard,
                     row_number() OVER (PARTITION BY doc_a
                                        ORDER BY jaccard DESC, doc_b) AS rank
              FROM p WHERE jaccard >= 0.8
            )
            SELECT doc_a, doc_b, jaccard, rank FROM f
            WHERE rank <= 5 ORDER BY doc_a, rank
        """,
        "id_normalize": r"""
            SELECT c_custkey,
                   regexp_replace(
                     translate(regexp_replace(split_part(c_name, 'Customer', 2),
                                              '\.0$', ''),
                               '-. /#', ''),
                     '^0+(.)', '\1') AS id_norm
            FROM customer ORDER BY c_custkey
        """,
        "sbs_interleaved": """
            SELECT a.r_regionkey AS ix_source, b.r_regionkey AS ix_target,
                   a.r_name AS r_name_source, b.r_name AS r_name_target
            FROM region a CROSS JOIN region b
            ORDER BY ix_source, ix_target
        """,
        "triage_counts": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
              FROM documents
            ), p AS (
              SELECT round(len(list_intersect(a.ts, b.ts)) * 1.0 /
                           (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) AS jaccard
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            ), f AS (
              SELECT jaccard,
                     CASE WHEN jaccard >= 0.95 THEN 2
                          WHEN jaccard < 0.85 THEN 0
                          ELSE 1 END AS triage
              FROM p WHERE jaccard >= 0.8
            )
            SELECT triage, count(*) AS n_pairs, round(avg(jaccard), 6) AS avg_score
            FROM f GROUP BY triage ORDER BY triage
        """,
        # full RP-LSH replay: md5-derived integer hyperplanes + floor-
        # quantized vectors make the sign bits engine-independent (integer
        # dot products — no float summation-order hazard), so DuckDB
        # reproduces the exact candidate set; re-rank is the same cosine
        # as ann_cosine_topk.
        "ann_rp_lsh": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), q AS (
              SELECT vec_id,
                     list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
              FROM e
            ), plane AS (
              SELECT j, d,
                     CAST(('0x' || substr(md5('rp:' || j || ':' || d), 1, 8))::UBIGINT
                          % 2001 AS BIGINT) - 1000 AS u
              FROM range(0, 64) t1(j) CROSS JOIN range(0, 64) t2(d)
            ), bits AS (
              SELECT q.vec_id, p.j,
                     CASE WHEN sum(q.qv[p.d + 1] * p.u) > 0 THEN 1 ELSE 0 END AS b
              FROM q CROSS JOIN plane p
              GROUP BY q.vec_id, p.j
            ), blk AS (
              SELECT vec_id, j // 8 AS block_idx,
                     sum(b * (1 << (j % 8))) AS block_val
              FROM bits GROUP BY vec_id, j // 8
            ), cand AS (
              SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
              FROM blk qb
              JOIN blk cb ON qb.block_idx = cb.block_idx
                         AND qb.block_val = cb.block_val
              WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id
            ), scored AS (
              SELECT c.query_id, c.neighbor_id,
                     list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))) AS cos
              FROM cand c
              JOIN e a ON a.vec_id = c.query_id
              JOIN e b ON b.vec_id = c.neighbor_id
            )
            SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine FROM (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # full IVF replay: md5-sampled centroids -> integer-L2 cell
        # assignment -> n_probe=4 probes -> cosine re-rank (mirrors
        # ann.ivf_topk with centroids='portable'; every distance is exact
        # integer arithmetic so argmin/argsort agree across engines)
        "ann_ivf": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), q AS (
              SELECT vec_id, v,
                     list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
              FROM e
            ), cent AS (
              SELECT row_number() OVER (ORDER BY md5('ivf:' || vec_id), vec_id) - 1
                       AS cell,
                     qv AS cv
              FROM (SELECT vec_id, qv FROM q
                    ORDER BY md5('ivf:' || vec_id), vec_id LIMIT 16)
            ), dist AS (
              SELECT q.vec_id, c.cell,
                     list_dot_product(q.qv, q.qv)
                     - 2 * list_dot_product(q.qv, c.cv)
                     + list_dot_product(c.cv, c.cv) AS d
              FROM q CROSS JOIN cent c
            ), assigned AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cell) AS rn
                FROM dist
              ) WHERE rn = 1
            ), probes AS (
              SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cell) AS rn
                FROM dist WHERE vec_id < 5
              ) WHERE rn <= 4
            ), scored AS (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     list_dot_product(ea.v, eb.v) /
                     (sqrt(list_dot_product(ea.v, ea.v)) *
                      sqrt(list_dot_product(eb.v, eb.v))) AS cos
              FROM probes p
              JOIN assigned a USING (cell)
              JOIN e ea ON ea.vec_id = p.query_id
              JOIN e eb ON eb.vec_id = a.vec_id
              WHERE a.vec_id <> p.query_id
            )
            SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine FROM (
              SELECT query_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored
            ) WHERE rank <= 10 ORDER BY query_id, rank
        """,
        # SemDeDup replay: same portable centroids + integer-L2 assignment
        # as ann_ivf, then within-cell cosine pairs (rounded to 6 dp BEFORE
        # the threshold, matching semantic_pairs) and min-id connected
        # components via the recursive reach CTE (same pattern as
        # minhash_clusters)
        "semantic_dedup": """
            WITH RECURSIVE e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     list_transform(embedding::DOUBLE[],
                                    x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
              FROM embeddings
            ), cent AS (
              SELECT row_number() OVER (ORDER BY md5('ivf:' || vec_id), vec_id) - 1
                       AS cell,
                     qv AS cv
              FROM (SELECT vec_id, qv FROM e
                    ORDER BY md5('ivf:' || vec_id), vec_id LIMIT 16)
            ), dist AS (
              SELECT e.vec_id, c.cell,
                     list_dot_product(e.qv, e.qv)
                     - 2 * list_dot_product(e.qv, c.cv)
                     + list_dot_product(c.cv, c.cv) AS d
              FROM e CROSS JOIN cent c
            ), assigned AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cell) AS rn
                FROM dist
              ) WHERE rn = 1
            ), p AS (
              SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM assigned a
              JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
              JOIN e ea ON ea.vec_id = a.vec_id
              JOIN e eb ON eb.vec_id = b.vec_id
              WHERE round(list_dot_product(ea.v, eb.v) /
                          (sqrt(list_dot_product(ea.v, ea.v)) *
                           sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.45
            ), ed AS (
              SELECT ia AS src, ib AS dst FROM p
              UNION SELECT ib, ia FROM p
            ), reach(a, b) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src
            )
            SELECT a AS id, min(b) AS gid, (a = min(b)) AS keep
            FROM reach GROUP BY a ORDER BY id
        """,
    }
