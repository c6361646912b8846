"""Cache and checkpoint lifetimes for the operators — one policy, two names.

- `cached(df)`: for a result returned LAZILY that reads a cache (the caller
  consumes the plan after the operator returns). The cache stays until the
  session-level sweep (bench.py / perfbench `release_caches`): releasing it
  on return would make the returned plan recompute its whole lineage.
- `scope()`: for an EAGER operator loop (kNN prove-or-escalate, the
  random-k threshold rounds, connected components, the NMS fixpoint).
  `m.cache(df)` is unpersisted when the scope exits; `m.checkpoint(df)`
  keeps its blocks on success — they are the result's storage — and
  releases them if the scope exits by a raise; `m.release(df)` frees one
  round's cache or blocks early.

localCheckpoint blocks cannot be released through the DataFrame API
(DataFrame.unpersist is a no-op for them), but the checkpointed frame's plan
is a LogicalRDD over the JVM RDD that holds them, and that RDD can be
unpersisted. Diffing the SparkContext's persistent-RDD registry around the
checkpoint is not the same: it also captures every cache the checkpoint job
happened to materialize first (e.g. greedy_nms's polys), and releasing those
silently disables a cache the returned plan still reads.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame


def _persisted(df: DataFrame) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def cached(df: DataFrame) -> DataFrame:
    """df persisted, unless the CALLER already persisted it (that cache is
    the caller's working set, theirs to release)."""
    return df if _persisted(df) else df.persist()


def _checkpoint(df: DataFrame) -> tuple[DataFrame, JavaObject]:
    """Eager localCheckpoint + the JVM RDD its blocks live in."""
    out = df.localCheckpoint(eager=True)
    return out, out._jdf.queryExecution().logical().rdd()


class _Scope:
    def __init__(self):
        # keyed by id() of the returned frame, which the value keeps alive
        self._caches: dict[int, DataFrame] = {}
        self._blocks: dict[int, tuple[DataFrame, JavaObject]] = {}

    def cache(self, df: DataFrame) -> DataFrame:
        """df persisted for this scope; a caller's cache is left alone."""
        if _persisted(df):
            return df
        out = df.persist()
        self._caches[id(out)] = out
        return out

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint; its blocks are released only by a raise
        or by `release`."""
        out, rdd = _checkpoint(df)
        self._blocks[id(out)] = (out, rdd)
        return out

    def release(self, df: DataFrame) -> None:
        """Free a frame this scope cached or checkpointed, now."""
        if id(df) in self._caches:
            self._caches.pop(id(df)).unpersist()
        else:
            self._blocks.pop(id(df))[1].unpersist(False)


@contextmanager
def scope() -> Iterator[_Scope]:
    """Materialization scope of one eager operator call (see module doc)."""
    m = _Scope()
    try:
        yield m
    except BaseException:
        # a raised call returns nothing that reads its checkpoints
        for _, rdd in m._blocks.values():
            rdd.unpersist(False)
        raise
    finally:
        for df in m._caches.values():
            df.unpersist()
