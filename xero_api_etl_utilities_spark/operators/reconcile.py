"""J1 — the reconciliation equi-join (the reference's most load-bearing
semantic).

The reference verifies each parsed workbook charge against the DB with a
per-row ``findFirst`` probe — a client-driven nested loop, one SQL round
trip per row (/root/reference/src/queries.ts:5-46). Matched rows are
enriched and kept; misses become the "unverified" set that aborts the
run (/root/reference/src/helpers.ts:200-214).

Spark-first re-expression: ONE set-based join per outcome —
``inner`` for matched (+ carry-through of probe-only columns, the J4
notes-merge at src/queries.ts:41), ``left_anti`` for unverified. The
probe side is tiny relative to the fact table, so Catalyst/AQE picks a
broadcast hash join: at 100 TB the N+1 loop becomes a single
scan-side hash probe with zero shuffle of the big table.

The round-to-2dp rule lives on the PROBE side only, mirroring
``+charge.amount.toFixed(2)`` (src/queries.ts:15): callers pre-round
the probe key column; the build side is compared as stored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def reconcile(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    persist_matched: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Split ``probe`` into (matched, unverified) against ``build``.

    matched    : inner join on ``on`` — probe columns enriched with the
                 build side's non-key columns (J4 merge semantics).
    unverified : probe rows with no build match (feeds the Q3 abort
                 gate), derived by anti-joining probe against the
                 DISTINCT KEYS of ``matched`` — a tiny broadcast frame —
                 instead of a second anti-join against the fact table.

    Single-pass design: the only operator that touches ``build`` is the
    one broadcast inner join (zero shuffle of the fact table); the
    unverified half reuses its output. A naive inner + left-anti pair
    would scan the 100 TB build side twice, and the textbook
    left-outer-with-null-flag alternative cannot broadcast at all (the
    outer-preserved side can't be the hash-build side), so it would
    shuffle the entire fact table. A key is "hit" in matched iff it
    exists in build, so the derived anti-join is semantically identical
    to ``left_anti`` against build.

    ``persist_matched=True`` caches the matched frame (memory+disk, it
    is at most probe-cardinality × match multiplicity — small) so a
    caller consuming BOTH halves (the EP1 pipeline) pays exactly one
    pass over the fact table; the caller owns ``unpersist()``.
    """
    matched = F.broadcast(probe).join(build, on=on, how="inner")
    if persist_matched:
        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    hit_keys = matched.select(*on).distinct()
    unverified = probe.join(F.broadcast(hit_keys), on=on, how="left_anti")
    return matched, unverified
