"""Lineage truncation, fault-tolerant when the session says so.

Iterative operators (connected components) and multiply-consumed
frames (candidate pairs feeding three joins) must be materialized or
their upstream plan re-executes per round/consumer and the lineage
grows without bound.  Every lineage cut in the package goes through
:func:`materialize`, which picks one of two ways from the session:

- no checkpoint directory → ``localCheckpoint()``: blocks live in
  executor storage.  Fast (no DFS round-trip) and exactly right on
  local[n], but an executor loss discards the block and Spark CANNOT
  recompute it (lineage was truncated), killing the job.
- a checkpoint directory on reliable storage (HDFS/S3) →
  ``checkpoint()``: blocks are written to the DFS, so any executor can
  die and the frame re-loads.  The cost is one DFS write + read per
  materialization, the price of surviving a multi-hour iterative job
  on preemptible executors.

The directory is a deployment setting, Spark's own
``spark.checkpoint.dir`` (``get_spark(extra_conf=...)`` or
spark-submit), so one setting decides fault tolerance for every
operator, memo and query-local frame.  The fixed-round operators
(``pagerank_int``, ``label_propagation``) keep their recurrence as one
lazy plan and cut it every round only under reliable storage; they ask
:func:`reliable_checkpoints`, so this module alone reads the directory.

A materialized frame that several catalog queries share is built once
per session through :func:`session_memo`, which also keeps the build
times and the list of what was built, so a harness can attribute each
shared build and rebuild them all in a fresh session.
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def compute_width(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit exchange to the cluster compute width
    (``sc.defaultParallelism``) for CPU-bound per-row chains
    (tokenize / shingle / hash / explode) that sit between a scan and
    the first shuffle.  Every widening in the package goes through
    here, so this is the one place that reads the width.

    On this engine's bench inputs every parquet table is a single row
    group, so every scan is ONE task and the whole pre-exchange chain
    runs single-threaded; AQE then coalesces the small downstream
    shuffles, so nothing ever widens the plan.  An explicit keyed
    repartition is immune to AQE coalescing and, when ``keys`` is a
    subset of a downstream clustering requirement (groupBy /
    dropDuplicates / join key), the downstream operator reuses the
    partitioning — one exchange, full width.  On a 100 TB layout the
    scan itself is already wide and this exchange is one narrow
    balanced pass; keys should be high-cardinality (doc_id, orderkey).

    ONLY for paths whose hashed outputs are partitioning-independent:
    integer/decimal aggregates, hashes, exact counts.  Float sums are
    NOT order-safe — leave those paths on their natural partitioning.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, *keys) if keys else df.repartition(par)


def reliable_checkpoints(df: DataFrame) -> bool:
    """Whether ``df``'s session has a checkpoint directory, i.e. whether
    :func:`materialize` writes to reliable storage."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def materialize(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: a reliable
    ``checkpoint()`` into the session's checkpoint directory when it has
    one, else an executor-local ``localCheckpoint()``."""
    return df.checkpoint() if reliable_checkpoints(df) else df.localCheckpoint()


@dataclass(frozen=True)
class MemoBuild:
    """One memo build: ``seconds`` is its own time, with the memo builds
    it triggered itself excluded."""

    name: str
    sf_dir: str
    seconds: float


class MemoRegistry:
    """Session-keyed memos of ``fn(spark, sf_dir)`` builders.

    Entries are keyed on ``(applicationId, abspath(sf_dir))``; the first
    call under a new ``applicationId`` drops every entry of the previous
    session, whose frames died with it.  ``builds`` lists every build in
    completion order, so a memo's dependencies come before it.
    """

    def __init__(self) -> None:
        self.builders: dict[str, Callable[[SparkSession, str], Any]] = {}
        self.builds: list[MemoBuild] = []
        self._entries: dict[tuple[str, str, str], Any] = {}
        self._app: str | None = None
        self._nested: list[float] = []  # open builds' nested-build seconds

    def memo(self, name: str):
        if name in self.builders:
            raise ValueError(f"duplicate memo name {name!r}")

        def wrap(fn):
            @functools.wraps(fn)
            def memoized(spark: SparkSession, sf_dir: str):
                app = spark.sparkContext.applicationId
                if app != self._app:
                    self._entries.clear()
                    self._app = app
                key = (name, app, os.path.abspath(sf_dir))
                if key not in self._entries:
                    self._nested.append(0.0)
                    t0 = time.perf_counter()
                    try:
                        self._entries[key] = fn(spark, sf_dir)
                    finally:
                        total = time.perf_counter() - t0
                        nested = self._nested.pop()
                        if self._nested:
                            self._nested[-1] += total
                    self.builds.append(MemoBuild(name, sf_dir, total - nested))
                return self._entries[key]

            self.builders[name] = memoized
            return memoized

        return wrap

    def rewarm(self, spark: SparkSession) -> None:
        """Rebuild, for ``spark``'s session, every memo built so far, in
        build order."""
        for name, sf_dir in dict.fromkeys((b.name, b.sf_dir) for b in self.builds):
            self.builders[name](spark, sf_dir)


SESSION_MEMOS = MemoRegistry()


def session_memo(name: str):
    """Decorator: build ``fn(spark, sf_dir)`` once per session and data
    directory, and return that value to every later caller.  ``name``
    names the build in :data:`SESSION_MEMOS`."""
    return SESSION_MEMOS.memo(name)
