"""The benchmark's workloads: corpus shape, untimed warm-up, measured unit.

A unit is the closed loop of one workload: each operation is submitted
only after the previous one's clusters checksum has been collected.  A unit
runs untraced unless a Tracer is passed, in which case every layer call
inside it opens a span.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import shutil
import time

from pyspark.sql import functions as F

from spans import PHASE_KEY, tree_cpu_s
from webdedup import streaming, synth
from webdedup.config import DedupConfig
from webdedup.pipeline import run_dedup


def clusters_checksum(clusters) -> str:
    """md5 of row count + sum of xxhash64(url, gid): order-insensitive."""
    row = clusters.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("url", "gid").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return hashlib.md5(f"{row['n']}:{row['h']}".encode()).hexdigest()[:8]


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _span(tracer, layer):
    return tracer.span(layer) if tracer else contextlib.nullcontext({})


class Workload:
    name = ""
    why = ""
    n_pages = 0
    shape: dict = {}  # generate_pages_spark knobs

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.corpus = os.path.join(work, "corpus.parquet")
        self.cfg = DedupConfig()
        self.pages = None
        self.checksums: list[str] = []  # every clusters checksum a run takes

    def _gen_args(self) -> dict:
        return dict(n_docs=self.n_pages, seed=self.seed, partitions=4, **self.shape)

    def generate(self, spark) -> None:
        """The load generator: seed -> pages parquet (not part of setup)."""
        synth.generate_pages_spark(spark, **self._gen_args()).write.mode(
            "overwrite"
        ).parquet(self.corpus)

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(self.corpus).cache()
        self.pages.count()

    def truth_pairs(self, spark) -> set[tuple[str, str]]:
        truth = synth.generate_truth_spark(spark, **self._gen_args()).toPandas()
        return set(zip(truth["url_a"], truth["url_b"]))

    def phase(self, spark, tag: str) -> None:
        spark.sparkContext.setLocalProperty(PHASE_KEY, tag)

    def cleanup(self) -> None:
        for d in os.listdir(self.work):
            if d.startswith(("ckpt-", "state")):
                shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)


def predicted_pairs(clusters) -> set[tuple[str, str]]:
    pdf = clusters.select("url", "gid").toPandas()
    out: set[tuple[str, str]] = set()
    for _, urls in pdf.groupby("gid")["url"]:
        out.update(itertools.combinations(sorted(urls), 2))
    return out


class CrawlCheckpointed(Workload):
    name = "crawl_long_ckpt"
    why = (
        "Common-Crawl-sized pages through checkpointed run_dedup + golden keeper, "
        "then a resume after the stages past features are lost: per-document "
        "layers (signatures, substring) and checkpoint writes and reads"
    )
    n_pages = 200
    shape = dict(text_scale=4, dup_fraction=0.3, boiler_fraction=0.25)
    LOST_STAGES = ("decisions", "clusters", "golden")
    WARMUP_PAGES = 40  # same code paths as the measured corpus, for less

    def warmup(self, spark) -> None:
        self.phase(spark, "warmup")
        args = dict(self._gen_args(), n_docs=self.WARMUP_PAGES, seed=self.seed + 1)
        tiny = synth.generate_pages_spark(spark, **args).cache()
        ck = os.path.join(self.work, "ckpt-warmup")
        clusters_checksum(run_dedup(spark, tiny, self.cfg, checkpoint_dir=ck)["clusters"])
        tiny.unpersist()

    def unit(self, spark, tag: str, tracer=None) -> dict:
        """Cold checkpointed run, lose the stages after features, resume."""
        self.phase(spark, tag)
        ck = os.path.join(self.work, f"ckpt-{tag}")
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with _span(tracer, "pipeline"):
            out = run_dedup(spark, self.pages, self.cfg, checkpoint_dir=ck)
        cold = clusters_checksum(out["clusters"])
        t1, c1 = time.perf_counter(), tree_cpu_s()
        ckpt_mb = dir_mb(ck)
        for stage in self.LOST_STAGES:
            shutil.rmtree(os.path.join(ck, stage))
        t2 = time.perf_counter()
        with _span(tracer, "checkpoint.resume"):
            out = run_dedup(spark, self.pages, self.cfg, checkpoint_dir=ck)
        resumed = clusters_checksum(out["clusters"])
        t3 = time.perf_counter()
        self.final_clusters = out["clusters"]
        self.checksums += [cold, resumed]
        return {
            "ops": 2,
            "window": (t0, t3),
            "docs_per_s": self.n_pages / (t1 - t0),
            "docs_per_cpu_s": self.n_pages / (c1 - c0),
            "resume_s": t3 - t2,
            "checkpoint.bytes_mb": ckpt_mb,
        }


class StreamBatches(Workload):
    name = "stream_batches"
    why = (
        "boilerplate-heavy snippets hash-split by url into micro-batches through "
        "process_batch + compact_index against state, then a replay of the last "
        "epoch: the streaming layer and its fixed per-job cost"
    )
    n_pages = 480
    shape = dict(text_scale=1, dup_fraction=0.7, boiler_fraction=0.6)
    N_BATCHES = 2

    def _batches(self):
        key = F.pmod(F.xxhash64("url"), F.lit(self.N_BATCHES))
        return [self.pages.where(key == b) for b in range(self.N_BATCHES)]

    def _submit(self, spark, state: str, b: int, process=None) -> str:
        assigned = (process or streaming.process_batch)(
            spark, self._batches()[b], state, self.cfg, epoch_id=b
        )
        sig = clusters_checksum(assigned)
        streaming.release_batch(assigned)
        return sig

    def warmup(self, spark) -> None:
        """Epochs 0..N-2 against empty then growing state, untimed: the
        state every unit's last batch runs against (each unit on a copy)."""
        self.phase(spark, "warmup")
        self.warm_state = os.path.join(self.work, "state-warmup")
        for b in range(self.N_BATCHES - 1):
            self._submit(spark, self.warm_state, b)
            streaming.compact_index(spark, self.warm_state)

    def unit(self, spark, tag: str, tracer=None) -> dict:
        """The last epoch, then compact_index, then a replay of that epoch
        (what foreachBatch does after a crash between the state commit and
        the stream checkpoint), which must reassign identically."""
        self.phase(spark, tag)
        state = os.path.join(self.work, f"state-{tag}")
        shutil.copytree(self.warm_state, state)
        process, compact = streaming.process_batch, streaming.compact_index
        if tracer:
            process = tracer.wrap("streaming.process_batch", process, persist=False)
            compact = tracer.wrap("streaming.compact", compact)
        last = self.N_BATCHES - 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        first = self._submit(spark, state, last, process)
        t1 = time.perf_counter()
        compact(spark, state)
        t2 = time.perf_counter()
        replay = self._submit(spark, state, last, process)
        t3, c3 = time.perf_counter(), tree_cpu_s()
        self.checksums += [first, replay]
        self.final_clusters = streaming.read_state(spark, state).select("url", "gid")
        return {
            "ops": 2,
            "window": (t0, t3),
            # the replay is a second submission of the same batch: both count
            "docs_per_s": 2 * self.n_last / (t3 - t0),
            "docs_per_cpu_s": 2 * self.n_last / (c3 - c0),
            "resume_s": t3 - t2,
            "batch_s": t1 - t0,
            "streaming.state_mb": dir_mb(os.path.join(state, "state")),
        }

    def load(self, spark) -> None:
        super().load(spark)
        self.n_last = self._batches()[-1].count()


WORKLOADS = {w.name: w for w in (CrawlCheckpointed, StreamBatches)}
