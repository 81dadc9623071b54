"""W1 — marker-delimited section segmentation.

The reference walks worksheet rows imperatively, incrementing a counter
at each literal "Amount" marker row and routing rows to sections by the
counter value (/root/reference/src/parse.ts:81-132). Relationally that
is a running count over a row-order window:

    section = sum(is_marker) over (partition by file order by row_idx
                                   rows unbounded preceding)

which is exactly what this helper computes. Downstream filters select
section numbers (section 1 = charges, section 2 = payments until the
"Total Charges" terminator, src/parse.ts:117-132).

Scale note: the window is partitioned by source file, so sheets
segment independently and in parallel — no global ordering, no
single-partition bottleneck at 100k workbooks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def segment_by_marker(
    df: DataFrame,
    is_marker: Column,
    order_by: list[str],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Tag each row with its running marker-section number (``section``).

    Marker rows themselves belong to the section they open (matching
    the reference's increment-then-route loop); filter them out
    afterwards with the P8 header-row filter if needed.
    """
    w = Window.partitionBy(*(partition_by or [])).orderBy(*order_by)
    running = F.sum(F.when(is_marker, 1).otherwise(0)).over(w)
    return df.withColumn("section", running.cast("int"))
