"""Spans around the engine's layer functions, recorded from outside.

``Tracer.patched()`` swaps each layer function at the module attribute its
caller resolves at call time (``pipeline.compute_signatures``,
``webdedup.candidates.minhash_candidates``, ``Checkpointer.stage``, ...), so
the real entry points ``run_dedup`` and ``process_batch`` run unmodified and
every call they make into a layer opens a span.  Each wrapper:

  - tags the Spark jobs it submits: job group = layer name, plus the local
    property ``perfbench.span`` = span id (the event-log rollup keys on it);
  - materialises the returned frame (persist + count), so the layer's work
    runs inside its own span instead of inside whichever consumer forces it;
  - records name, start, end, parent span and process-tree CPU at both ends.

Spans stay in memory; ``Tracer.dump`` writes them out once the run is over.
Materialising changes the physical plan (layer outputs are cached), which
is the tracing overhead the harness reports next to the untraced time.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

SPAN_KEY = "perfbench.span"
PHASE_KEY = "perfbench.phase"

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- process tree (/proc) ----------------------------------------------------
def _tree_pids(root: int) -> list[int]:
    """root plus every live descendant (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU of the process tree, reaped children included (a
    Python worker that exited counts through its parent's cutime/cstime)."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


# -- spans ---------------------------------------------------------------------
class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._held: list = []  # frames the wrappers persisted; freed by release()

    def _tag(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setJobGroup("pipeline", "outside any layer")
            self.sc.setLocalProperty(SPAN_KEY, None)
        else:
            layer = self.spans[sid]["layer"]
            self.sc.setJobGroup(layer, layer)
            self.sc.setLocalProperty(SPAN_KEY, str(sid))

    @contextlib.contextmanager
    def span(self, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "cpu0": tree_cpu_s(),
            "rows_out": 0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu1"] = tree_cpu_s()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _materialise(self, df, persist: bool) -> int:
        from pyspark.sql import DataFrame

        if not isinstance(df, DataFrame):  # compact_index returns an epoch
            return 0
        if persist and not df.is_cached:
            df.persist()
            self._held.append(df)
        return df.count()

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def wrap(self, layer: str, fn, persist: bool = True, extra=None):
        """Wrapper for a layer function returning a DataFrame or a
        (DataFrame, skew frame) tuple.  extra(rec, result, args, kwargs)
        records a layer-specific count inside the span."""

        def traced(*args, **kwargs):
            with self.span(layer) as rec:
                out = fn(*args, **kwargs)
                df = out[0] if isinstance(out, tuple) else out
                rec["rows_out"] = self._materialise(df, persist)
                if extra is not None:
                    extra(rec, out, args, kwargs)
                return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self):
        """Route every layer call of run_dedup / process_batch through a
        span for the duration of the block; originals restored on exit."""
        from webdedup import candidates, checkpoint, cluster, pipeline, streaming
        from webdedup import substring

        def dropped(rec, out, args, kwargs):
            rec["dropped_rows"] = sum(int(r["dropped_rows"]) for r in out[1].collect())

        def cc_rounds(rec, out, args, kwargs):
            rec["rounds"] = len(kwargs.get("checkpoints") or [])

        def positives(rec, out, args, kwargs):
            rec["positives"] = out.where("is_dup = 1").count()

        w = self.wrap
        swaps = [
            (pipeline, "compute_signatures", w("signatures", pipeline.compute_signatures)),
            (streaming, "compute_signatures", w("signatures", streaming.compute_signatures)),
            (candidates, "minhash_candidates",
             w("candidates.minhash", candidates.minhash_candidates, extra=dropped)),
            (candidates, "simhash_candidates",
             w("candidates.simhash", candidates.simhash_candidates, extra=dropped)),
            (candidates, "exact_candidates", w("candidates.exact", candidates.exact_candidates)),
            (candidates, "rejoin_urls", w("candidates.union_rejoin", candidates.rejoin_urls)),
            (substring, "substring_candidates",
             w("substring.anchor", substring.substring_candidates)),
            (substring, "verify_overlaps", w("substring.verify", substring.verify_overlaps)),
            (pipeline, "compute_features", w("features", pipeline.compute_features)),
            (pipeline, "triage_rule", w("triage", pipeline.triage_rule, extra=positives)),
            (pipeline, "connected_components",
             w("cluster.cc", pipeline.connected_components, extra=cc_rounds)),
            (cluster, "connected_components",
             w("cluster.cc", cluster.connected_components, extra=cc_rounds)),
            (pipeline, "assign_clusters", w("cluster.assign", pipeline.assign_clusters)),
            (pipeline, "golden_records", w("cluster.keeper", pipeline.golden_records)),
            (pipeline, "keep_best", w("cluster.keeper", pipeline.keep_best)),
            # stage output is a parquet scan: count it, don't cache it
            (checkpoint.Checkpointer, "stage",
             w("checkpoint.stage", checkpoint.Checkpointer.stage, persist=False)),
        ]
        saved = [(owner, name, getattr(owner, name)) for owner, name, _ in swaps]
        try:
            for owner, name, fn in swaps:
                setattr(owner, name, fn)
            yield self
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
