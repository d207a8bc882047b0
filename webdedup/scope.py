"""Block lifetimes: the one place that knows how a cache or checkpoint is freed.

A layer that holds storage blocks past its own return (a persisted key
table, the feature stage's doc side, a connected-components star forest)
registers them in the caller's ``Scope`` instead of freeing them itself.
The caller closes the scope once everything derived from the layer's output
is materialized; ``with Scope() as scope:`` also closes it when an exception
unwinds, so a failed stage frees what it held.

There is no module-level registry: two pipelines on one session each own
their scopes and can never free each other's blocks.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_RELEASE_FAILED_ONCE = False


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint's storage blocks.  DataFrame.unpersist only
    clears CacheManager entries; a localCheckpoint's blocks hang off the
    LogicalRDD itself, reachable via the analyzed plan.  Only call when
    NOTHING will read df again — the lineage is truncated, so the blocks
    are unrecoverable.  If the private plan accessor ever drifts under a
    new Spark, we leak (driver GC still reclaims eventually) but WARN once
    per session — a silent pass here would quietly disable all block
    hygiene with no signal."""
    global _RELEASE_FAILED_ONCE
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:  # noqa: BLE001 — plan-shape drift: leak, don't fail
        if not _RELEASE_FAILED_ONCE:
            _RELEASE_FAILED_ONCE = True
            warnings.warn(
                "localCheckpoint block release failed "
                f"({type(exc).__name__}: {exc}); connected-components "
                "checkpoint blocks will accumulate until driver GC — "
                "check the private plan accessor against this Spark version",
                RuntimeWarning,
                stacklevel=2,
            )


def free_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint no scope owns any more (one a caller took
    with ``Scope.detach``).  Only once nothing will read df again."""
    _release_local_checkpoint(df)


class Scope:
    """Owns the caches and localCheckpoints registered in it; ``close()``
    frees them in LIFO order (a block set is freed before the ones it was
    derived from).  Close only after everything derived from the held
    frames is materialized: a freed checkpoint cannot be recomputed."""

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, Callable[[DataFrame], None]]] = []

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __len__(self) -> int:
        return len(self._held)

    def persist(self, df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
        """Cache df (default storage level unless ``level``) and own it.  A
        frame that is already cached is owned as it is: the scope takes
        over its release."""
        if not df.is_cached:
            df = df.persist() if level is None else df.persist(level)
        self._held.append((df, DataFrame.unpersist))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager, lineage-free localCheckpoint of df, owned by the scope."""
        df = df.localCheckpoint()
        self._held.append((df, _release_local_checkpoint))
        return df

    def _take(self, df: DataFrame) -> Callable[[DataFrame], None]:
        for i, (held, free) in enumerate(self._held):
            if held is df:
                del self._held[i]
                return free
        raise ValueError("frame is not held by this scope")

    def release(self, df: DataFrame) -> None:
        """Free one held frame now, before the scope closes."""
        self._take(df)(df)

    def detach(self, df: DataFrame) -> DataFrame:
        """Hand a held frame to the caller: close() no longer frees it."""
        self._take(df)
        return df

    def detach_all(self) -> None:
        """Hand every held frame to the caller: close() frees nothing."""
        self._held.clear()

    def close(self) -> None:
        while self._held:
            df, free = self._held.pop()
            free(df)
