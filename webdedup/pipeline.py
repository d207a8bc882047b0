"""End-to-end dedup pipeline — the PruningPipe equivalent.

Stage DAG (each stage one call into the run's stage store):

  pages ─ signatures ─┬─ minhash band candidates ──┐
        │             └─ simhash block candidates ─┤
        ├─ exact text-hash candidates ─────────────┼─ union ─ features ─ decide ─ CC ─ clusters ─ golden
        └─ substring anchor candidates ─ verify ───┘

Mirrors the reference's flagship `PruningPipe._pipe`
(suricate/pipeline/pruningpipe.py:59-135): candidates == its pruned pair
space, features == its score matrix, decide == triage + classifier +
assembly, CC == its `SingleGrouping` transitive gid propagation.

``run_dedup`` picks its stage store once: a ``Checkpointer`` (snapshot
tables + manifests, resumable) when given a ``checkpoint_dir``, else
``MemoryStages`` (each stage persisted in the run's own Scope).  Both
offer ``stage``, ``row_count`` and ``fingerprint`` (webdedup.checkpoint),
so the runner has one code path.  A stage's partition columns (``part``)
shape the checkpointed layout only: neither store ever returns them.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webdedup import candidates as cand
from webdedup import substring as sub
from webdedup.checkpoint import Checkpointer, MemoryStages
from webdedup.cluster import (
    assign_clusters,
    connected_components,
    default_keeper_score,
    golden_records,
    keep_best,
)
from webdedup.config import DedupConfig
from webdedup.features import compute_features
from webdedup.scope import Scope
from webdedup.signatures import compute_signatures
from webdedup.triage import triage_rule

# provenance tags of the candidate sources run_dedup unions
_METHODS = ("exact", "minhash", "simhash", "substring")


def _column_identity(df: DataFrame, col) -> str:
    """Stable identity string for a Column expression: the pretty-SQL name
    the analyzer assigns when the expression is resolved against ``df``
    (public API, analysis only — no job).  Column.__repr__ is NOT used:
    its format carries no stability guarantee across Spark versions, so a
    version bump could silently change every stage identity derived from
    it (spurious recompute of otherwise-valid checkpoints).  An expression
    that does not resolve against ``df`` raises ValueError naming it."""
    try:
        return df.select(col).columns[0]
    except AnalysisException as exc:
        raise ValueError(f"{col} does not resolve against {df.columns}") from exc


def _skew_row(obs: Observation, skew: DataFrame) -> dict:
    """A capped source's skew row: observed, or — when AQE pruned the
    observed subtree and the Observation completed empty, which its row
    conversion rejects with an AssertionError — aggregated."""
    try:
        return obs.get
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.lang.AssertionError":
            raise
        return skew.first().asDict()


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    with_substring: bool = True,
    with_golden: bool = True,
    decision: str = "rule",
    truth_pairs: DataFrame | None = None,
    n_questions: int = 20,
    cross_validate: bool = False,
    keeper: str = "golden",
    keeper_score=None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every intermediate as a DataFrame.

    pages: (url, warc_ts?, html?, text, lang?) — url unique non-null.

    decision: 'rule' (default — the FunctionClassifier-style triage rule)
    or 'ml' (the reference flagship's learned path: question-loop label
    budget from ``truth_pairs`` -> GBT -> PruningPipe assembly; requires
    ``truth_pairs`` with (url_a, url_b) of known matches).
    cross_validate: ml path only — wrap the GBT pipeline in the
    CrossValidator grid (classify.fit_classifier).

    keeper: what stage 6 emits when with_golden is true — 'golden'
    (default: per-column synthesized golden record, the reference's
    grouping.py policy table) or 'best' (keep-best-copy: ONE surviving
    member per gid, the training-pipeline keeper policy; out key
    'keepers').  keeper_score: Column scoring each member for 'best'
    (higher = kept); default cluster.default_keeper_score — unique-token
    ratio over an explicit whitespace class.

    EAGER by contract: this runner executes the stages at call time even
    without a checkpoint_dir (the candidate count sizes the feature
    repartition, triage collects its thresholds, CC iterates) and frees
    every block it holds internally (substring key tables, the feature doc
    side, the CC star forest) before returning, or as an exception
    unwinds; only the stage outputs it returns stay cached, and those too
    are freed if a later stage raises.  A caller that wants ONE stage
    lazily should call that stage's function directly (compute_signatures,
    candidates.minhash_candidates, ...) — they compose on plain DataFrames,
    and every candidate source returns (did_a, did_b, method) pairs that
    ``candidates.rejoin_urls(pairs, candidates.doc_ids(pages))`` turns into
    url pairs.
    """
    if decision not in ("rule", "ml"):
        raise ValueError("decision must be 'rule' or 'ml'")
    if decision == "ml" and truth_pairs is None:
        raise ValueError("decision='ml' requires truth_pairs (the labeler)")
    if keeper not in ("golden", "best"):
        raise ValueError("keeper must be 'golden' or 'best'")
    cfg = cfg or DedupConfig()
    stages = Scope()
    store = (
        Checkpointer(spark, checkpoint_dir, cfg)
        if checkpoint_dir
        else MemoryStages(stages)
    )
    fp = store.fingerprint(pages, ["url"])

    # Checkpoint tables are hash-partitioned by url (Iceberg-shaped layout,
    # SURVEY §4.2): resume and downstream scans read a bounded, pruned file
    # set instead of one flat directory.  The store never returns `part`,
    # so downstream schemas stay unchanged.
    def _with_part(df: DataFrame, col: str) -> DataFrame:
        return df.withColumn("part", F.pmod(F.xxhash64(col), F.lit(16)))

    # four block scopes, each closed where its blocks die (all of them if
    # an exception unwinds): the in-memory stage outputs (handed to the
    # caller on success), substring key tables, the feature stage's doc
    # side, the CC star forest
    with stages, Scope() as keys, Scope() as doc_side, Scope() as cc:
        # -- 1. signatures ---------------------------------------------------
        signatures = store.stage(
            "signatures",
            lambda: _with_part(compute_signatures(pages, cfg), "url"),
            input_fingerprint=fp,
            partition_by=["part"],
        )

        # -- 2. candidates (four sources, provenance-tagged) -----------------
        # each capped source's skew frame, with the Observation that receives
        # the same row from the source's own bucket-sizing pass
        skew_sources: list[tuple[Observation, DataFrame]] = []

        def build_candidates() -> DataFrame:
            # all sources in did space; urls rejoin ONCE after the union dedup
            # (two joins total, vs two per source — see candidates.rejoin_urls)
            mh_obs, sh_obs, ss_obs, verify_obs = (Observation() for _ in range(4))
            mh_pairs, mh_skew = cand.minhash_candidates(signatures, cfg, mh_obs)
            sh_pairs, sh_skew = cand.simhash_candidates(signatures, cfg, sh_obs)
            ex_pairs = cand.exact_candidates(pages)
            skew_sources[:] = [(mh_obs, mh_skew), (sh_obs, sh_skew)]
            sources = [mh_pairs, sh_pairs, ex_pairs]
            if with_substring:
                ss_pairs, ss_skew = sub.substring_candidates(
                    pages, cfg, scope=keys, observation=ss_obs
                )
                verified, verify_skew = sub.verify_overlaps(
                    ss_pairs, pages, cfg, scope=keys, observation=verify_obs
                )
                skew_sources.extend([(ss_obs, ss_skew), (verify_obs, verify_skew)])
                sources.append(
                    verified.select("did_a", "did_b").withColumn(
                        "method", F.lit("substring")
                    )
                )
            return _with_part(
                cand.rejoin_urls(cand.union_candidates(*sources), cand.doc_ids(pages)),
                "url_a",
            )

        def candidate_metrics(_observed: dict) -> dict:
            """Per-method dropped skew mass -> the stage manifest, so a run can
            audit what the bucket caps cost (north rule: capped mass is
            reported, never silent).  Each row was observed by the stage's
            own work: the candidates write (minhash, simhash) or the
            substring sources' eager checkpoints.  A source whose observed
            subtree AQE pruned (its sibling side came up empty) has no row;
            its skew frame computes the same row exactly, with a job."""
            return {"skew_drops": [_skew_row(obs, skew) for obs, skew in skew_sources]}

        pairs = store.stage(
            "candidates",
            build_candidates,
            parents=["signatures"],
            input_fingerprint=fp,
            partition_by=["part"],
            metrics=candidate_metrics,
        )
        # free from the checkpointed manifest; in memory, the count that also
        # MATERIALIZES the persisted pair list — after which the key-table
        # caches inside the candidate sources are dead weight
        n_pairs = store.row_count("candidates")
        keys.close()

        # -- 3. features -----------------------------------------------------
        docs = pages.select("url", "text", "lang").join(
            signatures.select("url", "shingles", "mini", "simhash"), "url"
        )
        # expensive ratio comparators only for triage-mixed pairs — the
        # reference's pruning semantics (PruningPipe scores only mixed pairs
        # with the apply comparators, pruningpipe.py:102-107)
        features = store.stage(
            "features",
            lambda: compute_features(pairs, docs, cfg, n_pairs, scope=doc_side),
            parents=["candidates"],
            input_fingerprint=fp,
        )

        # -- 4. decision: rule triage, or the learned question-loop path -----
        # per-method positive-pair attribution -> the decisions manifest (the
        # tiered-dedup audit: which candidate source the accepted pairs came
        # from, so a run can see what each tier of the cascade paid for),
        # observed by the stage's own write — recorded for BOTH decision
        # paths, so an ml run keeps the same audit trail a rule run has
        positives = [
            F.count_if(
                (F.col("is_dup") == 1) & F.array_contains("methods", m)
            ).alias(f"positive_{m}")
            for m in _METHODS
        ]

        def decision_metrics(observed: dict) -> dict:
            counts = {k: observed[f"positive_{k}"] for k in _METHODS}
            m: dict = {"positive_pairs_by_method": {k: n for k, n in counts.items() if n}}
            if decision == "ml":
                # the learned path's knobs belong in the manifest next to its
                # output: budget size and CV choice explain WHY these decisions
                m["decision"] = "ml"
                m["n_questions"] = n_questions
                m["cross_validate"] = cross_validate
            return m

        if decision == "ml":
            from webdedup.classify import run_ml_decision

            # decision mode + budget + the LABEL CONTENT are the stage identity:
            # a rule-decisions checkpoint must never resume as ml output, and a
            # re-run with different truth labels (same pages, same dir) must not
            # resume decisions trained on the old labels
            truth_fp = store.fingerprint(truth_pairs, ["url_a", "url_b"])
            extra = f":decision=ml:q={n_questions}:cv={cross_validate}:truth={truth_fp}"

            def decide() -> DataFrame:
                return run_ml_decision(
                    features,
                    truth_pairs,
                    cfg,
                    n_questions=n_questions,
                    cross_validate=cross_validate,
                )
        else:
            extra = ""

            def decide() -> DataFrame:
                return triage_rule(features, cfg)

        decided = store.stage(
            "decisions",
            decide,
            parents=["features"],
            input_fingerprint=fp + extra,
            metrics=decision_metrics,
            observe=positives,
        )
        matches = decided.where(F.col("is_dup") == 1)

        # -- 5. connected components -> gid ----------------------------------
        def build_clusters() -> DataFrame:
            comp = connected_components(matches.select("url_a", "url_b"), scope=cc)
            return assign_clusters(
                pages.select("url", "warc_ts", "text", "lang"), comp
            ).select("url", "gid")

        clusters = store.stage(
            "clusters", build_clusters, parents=["decisions"], input_fingerprint=fp
        )
        # in memory this count materializes the persisted stages; checkpointed,
        # the writes already did.  Only then may the doc side and the star
        # forest go: a freed localCheckpoint cannot be recomputed
        store.row_count("clusters")
        doc_side.close()
        cc.close()

        out: dict[str, DataFrame] = {
            "signatures": signatures,
            "candidates": pairs,
            "features": features,
            "decisions": decided,
            "clusters": clusters,
        }

        # -- 6. keeper: golden-record synthesis, or keep-best-copy -----------
        if with_golden:
            clustered = pages.join(clusters, "url")
            if keeper == "best":
                score = (
                    keeper_score
                    if keeper_score is not None
                    else default_keeper_score("text")
                )
                out["keepers"] = store.stage(
                    "keepers",
                    lambda: keep_best(
                        clustered.withColumn("keeper_score", score).select(
                            "url", "gid", "keeper_score"
                        ),
                        "keeper_score",
                    ),
                    parents=["clusters"],
                    # the score EXPRESSION is part of the stage identity: a
                    # resume with a different quality score must recompute
                    input_fingerprint=f"{fp}:keeper_score="
                    f"{_column_identity(clustered, score)}",
                )
            else:
                out["golden"] = store.stage(
                    "golden",
                    lambda: golden_records(
                        clustered,
                        policies={"url": "first", "text": "first", "lang": "popularity"},
                    ),
                    parents=["clusters"],
                    input_fingerprint=fp,
                )

        # the in-memory stage outputs are the caller's now
        stages.detach_all()

    if checkpoint_dir:
        out["_checkpointer"] = store  # type: ignore[assignment]
    return out
