"""Stage stores: where ``run_dedup`` keeps each stage's output.

Both stores offer the same three calls, so the runner picks one once:
``stage(name, compute, parents=, input_fingerprint=, partition_by=,
metrics=, observe=)`` returns the stage's output, never with its
``partition_by`` columns (computed or resumed: they shape the on-disk
layout only); ``row_count(name)``; ``fingerprint(df, cols)``, the content
identity a stage identity folds in.  ``MemoryStages`` persists in the
caller's ``Scope``, counts rows with a ``count()`` and fingerprints
nothing.  ``Checkpointer`` writes snapshot tables with manifests
(per-partition lineage + metrics) and resumes what is already computed.

The reference hands intermediate results between stages through Postgres
tables (`df_source`, `es_scores`, `es_sbs`, `cluster_output`, ...,
tutorial/main/stepbystep/e2e.py:242-281) — its own argument for checkpointed
resumable stages.  Offline (no Iceberg jar in this image) we emulate an
Iceberg-shaped layout: each stage is a partitioned-parquet snapshot
directory plus a JSON manifest with the pinned DedupConfig hash, the parent
stages' manifest hashes (lineage), row count, per-partition row counts and
stage metrics.  `Checkpointer.stage()` recomputes a stage only when its
identity hash (config + parents + stage name) has no matching manifest on
disk, so a killed run resumes from the last completed stage.

The bookkeeping rides on the stage's own write; the store runs no Spark
job after it.  ``row_count`` and any extra observed aggregates come from
one ``Observation`` on the frame the writer writes.  A ``metrics``
callable runs after the write, so any job it submits is its own: the
candidates stage's reads the skew rows its sources observed during the
stage's work, and aggregates only a row AQE kept from being observed.
``partition_counts`` are summed from the committed files' parquet
footers, read with pyarrow, keyed by partition directory (``part=<k>``),
or by file name when unpartitioned.
The stage is read back with an explicit schema, so Spark infers none, and
the manifest's ``schema`` is the schema the stage returns.  A resume is
trusted when ``_SUCCESS`` exists and the footer row sum equals the
manifest's ``row_count``; it reads with the manifest's schema and selects
its fields, since partition discovery appends the ``part=<k>`` column.  A
missing or truncated file fails the check (``invalid_snapshot``) and the
stage recomputes.

The ``writer=``/``reader=`` seam (a real table format) has no files to
read footers from: it takes ``row_count`` from the same Observation but
counts partitions with a Spark aggregate after the write and validates a
resume with a ``count()`` through the reader.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable, Iterator
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from webdedup.config import DedupConfig
from webdedup.scope import Scope

MANIFEST_NAME = "manifest.json"


def _partition_counts(df: DataFrame) -> dict[str, int]:
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    return {str(r["__pid"]): int(r["count"]) for r in rows}


def data_files(directory: Path, pattern: str) -> Iterator[Path]:
    """The files under ``directory`` matching ``pattern`` that Spark's
    listing reads: it skips every path with a component starting with
    ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files, ``_temporary/`` dirs)."""
    for f in directory.rglob(pattern):
        if f.is_file() and not any(
            p.startswith(("_", ".")) for p in f.relative_to(directory).parts
        ):
            yield f


def _footer_counts(data_dir: Path) -> dict[str, int]:
    """Rows per partition directory (``part=<k>``), or per file for an
    unpartitioned stage, read from the data files' parquet footers with
    pyarrow (no Spark job).  Raises on a file whose footer does not decode
    (a truncated write)."""
    counts: dict[str, int] = {}
    for path in sorted(data_files(data_dir, "*.parquet")):
        rel = path.relative_to(data_dir)
        key = rel.parent.as_posix() if len(rel.parts) > 1 else rel.name
        counts[key] = counts.get(key, 0) + pq.read_metadata(path).num_rows
    return counts


class Checkpointer:
    """Resumable stage runner over a snapshot directory tree.

    root/
      <stage>/data/[part=<k>/]*.parquet   the snapshot
      <stage>/manifest.json               lineage + metrics
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str | Path,
        cfg: DedupConfig,
        writer: Callable[[DataFrame, str], None] | None = None,
        reader: Callable[[str], DataFrame] | None = None,
    ):
        """writer/reader: the table-format swap-in seam.  Default None =
        the offline partitioned-parquet emulation.  A real catalog plugs in
        as ``writer=lambda df, stage: df.writeTo(f"cat.db.{stage}")
        .createOrReplace()`` and ``reader=lambda stage:
        spark.table(f"cat.db.{stage}")`` — stage identity, manifests,
        lineage and the events log are format-agnostic and stay exactly as
        they are (tests/test_round5.py runs the seam against a real Iceberg
        catalog when the runtime jar is present, and against a second
        parquet tree offline).  The writer must write the frame it is
        handed: that write completes the stage's Observation.  The seam's
        partition counts and resume check cost Spark jobs (module doc)."""
        self.spark = spark
        self.root = Path(root)
        self.cfg = cfg
        self.config_hash = cfg.config_hash()
        self._writer = writer
        self._reader = reader
        self._stage_hashes: dict[str, str] = {}
        self.events: list[dict] = []  # (stage, action) log for tests/CLI

    # -- identity ----------------------------------------------------------
    def _identity(self, stage: str, parents: list[str], extra: str = "") -> str:
        parent_hashes = [self._stage_hashes.get(p, p) for p in parents]
        payload = json.dumps(
            {"stage": stage, "config": self.config_hash, "parents": parent_hashes,
             "extra": extra},
            sort_keys=True,
        ).encode()
        return hashlib.sha256(payload).hexdigest()[:16]

    def _paths(self, stage: str) -> tuple[Path, Path]:
        d = self.root / stage
        return d / "data", d / MANIFEST_NAME

    # -- core --------------------------------------------------------------
    def stage(
        self,
        name: str,
        compute: Callable[[], DataFrame],
        parents: list[str] | None = None,
        metrics: Callable[[dict], dict] | None = None,
        input_fingerprint: str = "",
        partition_by: list[str] | None = None,
        observe: list[Column] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the snapshot-backed DataFrame
        without its ``partition_by`` columns.

        observe: extra aliased aggregate columns, collected by the stage's
        write next to ``row_count``.  metrics(observed) receives them all
        as one dict and returns the manifest's ``metrics``."""
        parents = parents or []
        partition_by = partition_by or []
        identity = self._identity(name, parents, input_fingerprint)
        data_dir, manifest_path = self._paths(name)

        if manifest_path.exists():
            manifest = json.loads(manifest_path.read_text())
            if manifest.get("identity") == identity:
                snap = self._resume(name, data_dir, manifest)
                if snap is not None:
                    self._stage_hashes[name] = identity
                    self.events.append({"stage": name, "action": "resumed"})
                    return snap
                self.events.append({"stage": name, "action": "invalid_snapshot"})

        t0 = time.time()
        obs = Observation()
        df = compute().observe(
            obs, F.count(F.lit(1)).alias("row_count"), *(observe or [])
        )
        if self._writer is not None:
            self._writer(df, name)
            out = self._reader(name)
            partition_counts = _partition_counts(out)
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(str(data_dir))
            # partition columns are left out of the read schema (partition
            # discovery appends them, and the drop below removes them)
            data_schema = StructType(
                [f for f in df.schema if f.name not in partition_by]
            )
            out = self.spark.read.schema(data_schema).parquet(str(data_dir))
            partition_counts = _footer_counts(data_dir)
        out = out.drop(*partition_by)
        observed = obs.get

        manifest = {
            "stage": name,
            "identity": identity,
            "config_hash": self.config_hash,
            "parents": {p: self._stage_hashes.get(p, p) for p in parents},
            "row_count": observed["row_count"],
            "partition_counts": partition_counts,
            "schema": out.schema.jsonValue(),
            "wall_seconds": round(time.time() - t0, 3),
            "written_at_unix": int(time.time()),
            "metrics": (metrics(observed) if metrics else {}),
        }
        manifest_path.parent.mkdir(parents=True, exist_ok=True)
        manifest_path.write_text(json.dumps(manifest, indent=2, default=str))
        self._stage_hashes[name] = identity
        self.events.append({"stage": name, "action": "computed"})
        return out

    def _resume(self, name: str, data_dir: Path, manifest: dict) -> DataFrame | None:
        """The stored snapshot, or None when it cannot be trusted: the
        manifest alone can outlive a partial overwrite of the snapshot
        (killed rewrite, manual deletion).  A catalog's commits are atomic,
        so the seam checks the table's count alone."""
        rows = manifest.get("row_count")
        try:
            schema = StructType.fromJson(manifest["schema"])
            if self._reader is not None:
                snap = self._reader(name)
                if snap.count() != rows:
                    return None
            elif not (data_dir / "_SUCCESS").exists():
                return None
            elif sum(_footer_counts(data_dir).values()) != rows:
                return None
            else:
                snap = self.spark.read.schema(schema).parquet(str(data_dir))
            # partition discovery appends `part`: keep the stage's own fields
            return snap.select(*schema.fieldNames())
        except Exception:
            # marker survived but the data didn't (truncated file -> footer
            # decode error; dropped table; unreadable manifest schema):
            # recompute rather than wedging the run
            return None

    def manifest(self, stage: str) -> dict:
        _, manifest_path = self._paths(stage)
        return json.loads(manifest_path.read_text())

    def row_count(self, stage: str) -> int:
        return self.manifest(stage)["row_count"]

    def fingerprint(self, df: DataFrame, key_cols: list[str]) -> str:
        return input_fingerprint(df, key_cols)


class MemoryStages:
    """Each stage persisted in ``scope`` as returned, so the caller's
    unpersist frees the real cache.  No manifest: identity, lineage,
    metrics and observe are ignored."""

    def __init__(self, scope: Scope):
        self.scope = scope
        self._frames: dict[str, DataFrame] = {}

    def stage(self, name: str, compute: Callable[[], DataFrame], **kw) -> DataFrame:
        """Checkpointer.stage's call; of its keywords only ``partition_by``
        acts here: those columns are dropped before the persist."""
        df = self.scope.persist(compute().drop(*kw.get("partition_by", [])))
        self._frames[name] = df
        return df

    def row_count(self, stage: str) -> int:
        # the first action on the stage: it also fills the persisted cache
        return self._frames[stage].count()

    def fingerprint(self, df: DataFrame, key_cols: list[str]) -> str:
        return ""


def input_fingerprint(df: DataFrame, key_cols: list[str]) -> str:
    """Cheap content identity for resume-safety: count + xor-ish hash sum."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return f"{int(row['n'])}:{int(row['h'])}"
