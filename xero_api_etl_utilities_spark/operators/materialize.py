"""Lineage truncation with a fault-tolerance knob.

Iterative operators (connected components) and multiply-consumed
frames (candidate pairs feeding three joins) must be materialized or
their upstream plan re-executes per round/consumer and the lineage
grows without bound. Two ways to do that, with different failure
semantics:

- ``localCheckpoint`` (default): blocks live in executor storage.
  Fast — no DFS round-trip — and exactly right on local[n], but an
  executor loss discards the block and Spark CANNOT recompute it
  (lineage was truncated), killing the job. Acceptable when the
  cluster is one JVM; not for a 100 TB run on 1000 preemptible
  executors.
- ``checkpoint`` with a ``checkpoint_dir`` on reliable storage
  (HDFS/S3): blocks are written to the DFS, so any executor can die
  and the frame re-loads. The cost is one DFS write + read per
  materialization — the price of surviving a multi-hour iterative
  job: a 100 TB connected-components run must not lose 20 rounds of
  work to one preemption.

Operators that expose ``checkpoint_dir`` (connected components,
PageRank, label propagation, BPE training, the dedup verify substrate)
truncate through :func:`materialize`; without a ``checkpoint_dir``,
``pagerank_int`` and ``label_propagation`` call ``localCheckpoint()``
directly every few rounds.  The session memos and a few query-local
frames also call ``localCheckpoint()`` directly, so they are never
fault-tolerant.

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


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    ``checkpoint_dir=None`` → ``localCheckpoint()`` (executor-local,
    fast, not fault-tolerant). A path → reliable ``checkpoint()``
    into that directory.  ``setCheckpointDir`` creates a fresh UUID
    subdirectory on every call, so it runs only when the requested
    directory differs from the last one this function set on the
    SparkContext, or when something else re-pointed the context since:
    the rounds of one iterative operator share one subdirectory, and a
    caller asking for a different directory never checkpoints into the
    previous caller's.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    last = getattr(sc, "_materialize_checkpoint_dir", None)
    if last != (checkpoint_dir, sc.getCheckpointDir()):
        sc.setCheckpointDir(checkpoint_dir)
        sc._materialize_checkpoint_dir = (checkpoint_dir, sc.getCheckpointDir())
    return df.checkpoint()


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
