"""Sinks: partitioned/bucketed fact layout and small-file compaction.

The storage half of the 100 TB design: facts written
date-partitioned (dynamic partition pruning reaches the §2 scans) and
optionally bucketed by join key (elides the shuffle in orderkey-shaped
joins like the flagship's).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Date/key-partitioned parquet, overwritten: partition pruning
    makes the §2.1 filtered scans touch only matching directories."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
) -> None:
    """Bucketed managed table in 8 buckets, sorted by the bucket key,
    overwritten: joins/aggregations on the bucket key skip their
    shuffle (the orderkey co-location the flagship plan notes).
    Requires saveAsTable (bucketing metadata lives in the catalog, not
    the files)."""
    df.write.mode("overwrite").bucketBy(8, *bucket_by).sortBy(*bucket_by).saveAsTable(
        table
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _part_parquet_files(d: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    ]


def compact_store(spark, root: str) -> int:
    """Small-file compaction of one partitioned sub-store ``root``
    (e.g. ``<store>/catalog``): every absorbed batch appends one
    ``part=<batch>`` partition of kilobyte-scale files, and at crawl
    cadence per-file open/footer cost comes to dominate every scan.
    The live partitions are merged into ONE new ``part=compact-<k>``
    partition of ``ceil(total_bytes / 128 MiB)`` files, sized from the
    CURRENT on-disk bytes, while every prior partition directory
    survives as an EMPTY marker dir holding only an ``_ABSORBED`` flag
    file — a replay guard that tests ``os.path.isdir`` on a batch's
    partition dir stays a no-op, and Spark's file listing ignores both
    the empty dirs and the underscore file, so readers see exactly the
    compacted rows.  ``repartition`` (a real shuffle) rather than
    ``coalesce`` keeps the read wide and only the write narrow.

    Crash safety: the new layout (compact parquet + marker dirs) is
    assembled in a sibling ``.compacting`` tmp, then swapped in via two
    renames with a ``.precompact`` fallback — readers see the old or
    the new layout, never duplicates.  Between the renames there is a
    sub-millisecond window where the sub-store does not exist, so a
    concurrent reader's ENOENT is transient.  A crash there strands
    the data in ``.precompact``; the recovery preamble restores it on
    the next invocation, so compaction repairs its own interrupted
    runs.  Re-compacting an already-compacted store merges the single
    compact partition into the next-indexed one (a no-op rewrite, same
    rows).

    Run it quiesced: a batch absorbed mid-compaction could publish a
    new partition into the pre-swap root and lose it.
    Returns the parquet file count after compaction."""
    import math
    import re
    import shutil

    tmp, old = f"{root}.compacting", f"{root}.precompact"
    # recovery preamble: discard a half-built tmp; restore a precompact
    # stranded between the renames, or discard one left after publish
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    if os.path.isdir(old):
        if not os.path.isdir(root):
            os.rename(old, root)
        else:
            shutil.rmtree(old)
    parts = sorted(p for p in os.listdir(root) if p.startswith("part="))
    live = [p for p in parts if _part_parquet_files(os.path.join(root, p))]
    if not live:
        return 0
    total = sum(
        os.path.getsize(f)
        for p in live
        for f in _part_parquet_files(os.path.join(root, p))
    )
    n_files = max(1, math.ceil(total / (128 * 1024 * 1024)))
    k = 1 + max(
        (
            int(m.group(1))
            for p in parts
            if (m := re.fullmatch(r"part=compact-(\d+)", p))
        ),
        default=0,
    )
    spark.read.parquet(
        *(os.path.join(root, p) for p in live)
    ).repartition(n_files).write.parquet(
        os.path.join(tmp, f"part=compact-{k:06d}")
    )
    for p in parts:
        marker = os.path.join(tmp, p)
        os.makedirs(marker, exist_ok=True)
        open(os.path.join(marker, "_ABSORBED"), "w").close()
    os.rename(root, old)
    os.rename(tmp, root)
    shutil.rmtree(old)
    return len(_part_parquet_files(os.path.join(root, f"part=compact-{k:06d}")))

