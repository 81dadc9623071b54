"""The plan normaliser of ``tools/explain_dump.py`` on fixture plan
text: every run-to-run counter is replaced, and the distinct-group
order under an Expand is made canonical."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from explain_dump import normalise  # noqa: E402

ROOT = "/work/checkout"

# Two sessions' dumps of one plan with two DISTINCT aggregates: every
# counter differs, and the second session ordered the distinct groups
# (doc, bh) the other way round, renumbering their gid; the planner's
# sort on the groups (4a) follows that order, the query's Sort (6) not.
RUN_A = f"""== Physical Plan ==
* Sort (6)
+- * HashAggregate (5)
   +- Exchange (4)
   +- Expand (3)
      +- Scan ExistingRDD (1)


(1) Scan ExistingRDD
Output [2]: [doc#5L, bh#6L]
Arguments: [doc#5L, bh#6L], MapPartitionsRDD[8] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Scan parquet
Location: InMemoryFileIndex [file:{ROOT}/spark-warehouse/dedup_catalog/sf0.01-local-1792295568484/corpus]

(3) Expand
Input [2]: [doc#5L, bh#6L]
Arguments: [[doc#5L, null, 1], [null, bh#6L, 2]], [doc#17L, bh#18L, gid#16]

(4) Exchange
Input [3]: [doc#17L, bh#18L, gid#16]
Arguments: hashpartitioning(doc#17L, bh#18L, gid#16, 4), ENSURE_REQUIREMENTS, [plan_id=56]

(4a) Sort
Input [3]: [doc#17L, bh#18L, gid#16]
Arguments: [doc#17L ASC NULLS FIRST, bh#18L ASC NULLS FIRST, gid#16 ASC NULLS FIRST], false, 0

(5) HashAggregate
Keys [3]: [doc#17L, bh#18L, gid#16]
Functions [2]: [count(doc#17L) FILTER (WHERE (gid#16 = 1)), count(if (NOT _common_expr_3#20) null else bh#18L) FILTER (WHERE (gid#16 = 2))]

(6) Sort
Input [2]: [doc#17L, bh#18L]
Arguments: [doc#17L DESC NULLS LAST, bh#18L ASC NULLS FIRST], true, 0
"""

RUN_B = f"""== Physical Plan ==
* Sort (6)
+- * HashAggregate (5)
   +- Exchange (4)
   +- Expand (3)
      +- Scan ExistingRDD (1)


(1) Scan ExistingRDD
Output [2]: [doc#1205L, bh#1206L]
Arguments: [doc#1205L, bh#1206L], MapPartitionsRDD[31] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Scan parquet
Location: InMemoryFileIndex [file:{ROOT}/spark-warehouse/dedup_catalog/sf0.01-local-1792295637323/corpus]

(3) Expand
Input [2]: [doc#1205L, bh#1206L]
Arguments: [[bh#1206L, null, 1], [null, doc#1205L, 2]], [bh#1218L, doc#1217L, gid#1216]

(4) Exchange
Input [3]: [bh#1218L, doc#1217L, gid#1216]
Arguments: hashpartitioning(bh#1218L, doc#1217L, gid#1216, 4), ENSURE_REQUIREMENTS, [plan_id=1911]

(4a) Sort
Input [3]: [bh#1218L, doc#1217L, gid#1216]
Arguments: [bh#1218L ASC NULLS FIRST, doc#1217L ASC NULLS FIRST, gid#1216 ASC NULLS FIRST], false, 0

(5) HashAggregate
Keys [3]: [bh#1218L, doc#1217L, gid#1216]
Functions [2]: [count(doc#1217L) FILTER (WHERE (gid#1216 = 2)), count(if (NOT _common_expr_0#1220) null else bh#1218L) FILTER (WHERE (gid#1216 = 1))]

(6) Sort
Input [2]: [bh#1218L, doc#1217L]
Arguments: [doc#1217L DESC NULLS LAST, bh#1218L ASC NULLS FIRST], true, 0
"""


def test_normalise_replaces_counters_and_orders_distinct_groups():
    a, b = normalise(RUN_A, ROOT), normalise(RUN_B, ROOT)
    assert a == b
    for raw in ("#5L", "plan_id=56", "RDD[8]", "local-179", "_common_expr_3", ROOT):
        assert raw not in a
    for seen in (
        "Output [2]: [doc#NL, bh#NL]",
        "plan_id=N",
        "MapPartitionsRDD[N] at localCheckpoint",
        "sf0.01-local-N/corpus",
        "_common_expr_N#N",
        "file:./spark-warehouse/",
        "Arguments: [[bh#NL=bh#NL, doc#NL=null], [bh#NL=null, doc#NL=doc#NL]], "
        "[bh#NL, doc#NL, gid#N]",
        "hashpartitioning(bh#NL, doc#NL, gid#N, 4)",
        "Arguments: [bh#NL ASC NULLS FIRST, doc#NL ASC NULLS FIRST, gid#N ASC NULLS FIRST]",
        "FILTER (WHERE (gid#N = G))",
        "Input [2]: [bh#NL, doc#NL]\nArguments: [doc#NL DESC NULLS LAST, bh#NL ASC NULLS FIRST]",
    ):
        assert seen in a, seen


def test_normalise_keeps_sort_order_in_an_expand_plan():
    """Only the lists that hold an Expand's outputs are sorted: a
    changed sort-key order, or a reordered input column list, still
    shows after normalisation."""
    swapped = RUN_A.replace(
        "[doc#17L DESC NULLS LAST, bh#18L ASC NULLS FIRST]",
        "[bh#18L ASC NULLS FIRST, doc#17L DESC NULLS LAST]",
    )
    assert normalise(swapped, ROOT) != normalise(RUN_A, ROOT)
    reordered = RUN_A.replace(
        "Output [2]: [doc#5L, bh#6L]", "Output [2]: [bh#6L, doc#5L]"
    )
    assert normalise(reordered, ROOT) != normalise(RUN_A, ROOT)


def test_normalise_keeps_list_order_without_an_expand():
    text = "(1) Sort\nInput [2]: [b#2, a#1]\nArguments: [b#2 ASC, a#1 ASC], true, 0\n"
    assert normalise(text, ROOT) == (
        "(1) Sort\nInput [2]: [b#N, a#N]\nArguments: [b#N ASC, a#N ASC], true, 0\n"
    )
