"""Small cross-cutting helpers."""

from __future__ import annotations

import weakref
from collections.abc import Callable, Hashable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def materialize(df: DataFrame, **exprs: Column) -> DataFrame:
    """Force the named expressions to be computed ONCE per row as real
    attributes, via a one-element ``explode(array(struct(...)))``
    generator barrier.

    Why: Catalyst's CollapseProject + filter pushdown substitute a
    plain aliased expression into EVERY downstream consumer — for a
    heavy higher-order expression (tokenize, shingle+hash) referenced
    by k features, that re-evaluates it k times per row (measured 2-8×
    end-to-end on the text operators). A Generate node is a real
    barrier: its arguments are evaluated once per input row, and field
    extraction from the resulting struct attribute is O(1) per
    consumer."""
    payload = F.explode(
        F.array(F.struct(*[e.alias(k) for k, e in exprs.items()]))
    )
    out = df.withColumn("_mz", payload)
    for k in exprs:
        out = out.withColumn(k, F.col(f"_mz.{k}"))
    return out.drop("_mz")


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure a compute-heavy map stage downstream of ``df`` runs with at
    least ``min_parts`` tasks (default: the cluster's default
    parallelism).

    Why: a small parquet file scans as ONE input split, so a hash-heavy
    projection chained onto it (md5 shingling, simhash votes,
    fingerprinting) serializes on a single core no matter how many are
    available — at sf0.1 this single-partition effect, not the hashing
    itself, dominated the dedup-family bench times. At 100-TB scale the
    scan already has thousands of splits and this is a NO-OP: the
    partition-count check makes the repartition conditional, so no
    shuffle of the full corpus is ever forced on big inputs.
    """
    if df.isStreaming:
        # partitioning of a stream is the source's concern (maxFilesPer
        # Trigger / kafka partitions); df.rdd is not defined here anyway
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: every live SessionMemo, for :func:`clear_memos`
_MEMOS: weakref.WeakSet[SessionMemo] = weakref.WeakSet()


class SessionMemo:
    """A bounded LRU memo of values computed within one Spark application.

    Keys are stored as ``(applicationId, key)``, so a dead session's
    entries are never handed to a new one (``id(spark)`` would not do:
    CPython reuses ids). A hit refreshes recency; a put at
    ``max_entries`` evicts the least recently used entry. ``release`` is
    called with every value that eviction or :meth:`clear` drops, to
    free what it pins. Values are never ``None``; a ``None`` key means
    "compute, don't memoize"."""

    def __init__(
        self, name: str, max_entries: int, release: Callable | None = None
    ):
        self.name = name
        self.max_entries = max_entries
        self.release = release or (lambda value: None)
        self._entries: dict = {}
        _MEMOS.add(self)

    def __len__(self) -> int:
        return len(self._entries)

    def values(self) -> list:
        return list(self._entries.values())

    def get(self, spark: SparkSession, key: Hashable):
        k = (spark.sparkContext.applicationId, key)
        hit = self._entries.pop(k, None)
        if hit is not None:
            self._entries[k] = hit  # re-insert: dicts keep insertion order
        return hit

    def put(self, spark: SparkSession, key: Hashable, value) -> None:
        k = (spark.sparkContext.applicationId, key)
        self._entries.pop(k, None)
        while len(self._entries) >= self.max_entries:
            self.release(self._entries.pop(next(iter(self._entries))))
        self._entries[k] = value

    def get_or_compute(self, spark: SparkSession, key, compute: Callable):
        hit = None if key is None else self.get(spark, key)
        if hit is None:
            hit = compute()
            if key is not None:
                self.put(spark, key, hit)
        return hit

    def clear(self) -> None:
        dropped, self._entries = self._entries, {}
        for value in dropped.values():
            self.release(value)


def clear_memos() -> None:
    """Empty every :class:`SessionMemo`, releasing what its entries pin."""
    for memo in list(_MEMOS):
        memo.clear()


def plan_fingerprint(df: DataFrame) -> tuple | None:
    """``(semanticHash(), hash of the sorted inputFiles())``: a memo key
    for ``df``'s definition that runs no job, or ``None`` when the plan
    cannot be hashed. Files added, removed or renamed under the same
    path change it; a file rewritten in place under its old name does
    not, so inputs are assumed session-static."""
    try:
        plan_key = df.semanticHash()
    except Exception:
        return None
    try:
        files_key = hash(tuple(sorted(df.inputFiles())))
    except Exception:
        files_key = None
    return plan_key, files_key
