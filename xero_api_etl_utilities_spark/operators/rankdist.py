"""Distributed global-rank decomposition (no single-partition window).

``row_number()/ntile() OVER (ORDER BY ...)`` with no partition key is
the classic scale-killer: Spark moves the ENTIRE frame to one
partition.  This module provides the band-decomposed equivalent used
by ``diag_quality_deciles_dist`` and ``text_zipf_slope``
(plans/corpus_extra.py, plans/corpus_wave7.py) as a reusable
operator:

1. the caller supplies a BAND column whose order is a coarsening of
   the sort order (band boundaries are ranges of the sort key — e.g.
   ``(score + off) >> 7`` for an ascending integer score, or
   ``ilog2(cnt)`` for a descending count);
2. within-band ranks come from a PARTITIONED window — fully parallel;
3. band offsets (rows in all earlier bands) come from a broadcast
   inequality self-join over the band histogram — a prefix sum with
   no single-partition exchange anywhere;
4. global rank = offset + within-band rank, and NTILE is applied in
   CLOSED FORM: for n rows and t tiles, the first n % t tiles hold
   n // t + 1 rows, so
   ``tile(r) = ceil(r / (q+1))`` while ``r <= rem * (q+1)`` else
   ``rem + ceil((r - rem*(q+1)) / q)`` with q = n // t, rem = n % t —
   bit-for-bit the engine's NTILE tie-split over the same total
   order (hypothesis-pinned against ``F.ntile`` on tie-heavy random
   frames).

The only SinglePartition exchange in a consumer plan is the 1-row
grand-total merge — unavoidable and harmless.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: every internal temp name any function below may attach; caller columns
#: with these names would be silently clobbered/dropped, so we refuse them.
_TEMP_COLS = frozenset(
    {
        "_local_pos",
        "_offset",
        "_sc",
        "_sv",
        "_soff",
        "_boff",
        "_lv",
        "_ob",
        "_oc",
        "_ov",
        "_bcnt",
        "_bv",
    }
)


def _collision_check(df: DataFrame) -> None:
    """PLAN-time guard (ADVICE r9): caller columns named like our
    temp columns would be silently clobbered or dropped — refuse."""
    clash = sorted(set(df.columns) & _TEMP_COLS)
    if clash:
        raise ValueError(
            f"rankdist: input columns {clash} collide with internal "
            f"temp names; rename them before calling"
        )


def _nonnull_gate(key_cols: list[str], through: Column) -> Column:
    """RUN-time guard (ADVICE r9) for the non-null band/sub
    precondition, placed on the HISTOGRAM grain, not the data grain:
    a NULL key row survives the groupBy as a null group, so asserting
    while reading the histogram's count column catches the misuse at
    O(#bands) cost — the big frame's shuffle/window columns stay
    untouched (wrapping them cost ~60% on the rfm family at sf0.1).
    Without this, the offset equi-joins would silently drop null-key
    rows and shift every later rank."""
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & F.col(c).isNotNull()
    return F.when(
        F.assert_true(
            cond,
            F.lit(
                f"rankdist: NULL in key column(s) {key_cols} violates the "
                "non-null band/sub precondition (the offset equi-joins "
                "would silently drop those rows)"
            ),
        ).isNull(),
        through,
    )


def _nsjoin(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Inner join on null-SAFE key equality (``<=>``), broadcasting the
    (histogram-sized) right side.  Plain ``==`` keys would let Catalyst
    infer ``IsNotNull`` constraints and push them BELOW the histogram
    groupBy — deleting the null group before :func:`_nonnull_gate`
    could fire, i.e. optimizing the guard itself away.  ``<=>`` is
    still a hash-join key, so the physical shape is unchanged."""
    renames = {k: f"_r_{k}" for k in keys}
    r = right
    for k, rk in renames.items():
        r = r.withColumnRenamed(k, rk)
    cond = F.lit(True)
    for k, rk in renames.items():
        cond = cond & F.col(k).eqNullSafe(F.col(rk))
    return left.join(F.broadcast(r), cond, "inner").drop(*renames.values())


def global_rank_decomposed(
    df: DataFrame,
    band_col: str,
    order_cols: list,
    descending_bands: bool = False,
) -> DataFrame:
    """Attach the global ``row_number`` rank ``r`` of the total order
    ``order_cols`` (list of Columns or names; must totally order the
    frame — include a unique id) WITHOUT a global window.

    ``band_col`` must be a coarsening of that order: ascending bands
    for an ascending order, or pass ``descending_bands=True`` when
    larger bands sort FIRST (e.g. rank-by-count-descending with
    ``band = ilog2(cnt)``)."""
    _collision_check(df)
    local = df.withColumn(
        "_local_pos",
        F.row_number().over(Window.partitionBy(band_col).orderBy(*order_cols)),
    )
    hist = df.groupBy(band_col).agg(F.count(F.lit(1)).alias("_bcnt"))
    other = hist.select(
        F.col(band_col).alias("_ob"), F.col("_bcnt").alias("_oc")
    )
    before = (
        F.col("_ob") > F.col(band_col)
        if descending_bands
        else F.col("_ob") < F.col(band_col)
    )
    offsets = (
        hist.join(F.broadcast(other), before, "left")
        .groupBy(band_col)
        .agg(F.coalesce(F.sum("_oc"), F.lit(0)).alias("_offset"))
        # the gate rides the broadcast build of the histogram-sized
        # offsets frame: every band row (incl. a null one — the
        # null-safe join below stops IsNotNull inference from pruning
        # it) evaluates here, at O(#bands) cost
        .select(
            band_col, _nonnull_gate([band_col], F.col("_offset")).alias("_offset")
        )
    )
    return (
        _nsjoin(local, offsets, [band_col])
        .withColumn("r", F.col("_offset") + F.col("_local_pos"))
        .drop("_local_pos", "_offset")
    )


def global_rank_decomposed2(
    df: DataFrame,
    band_col: str,
    sub_col: str,
    order_cols: list,
    rank_name: str = "r",
    descending_bands: bool = False,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Two-level refinement of :func:`global_rank_decomposed` for
    orders whose level-1 band alone leaves HEAVY bands — massively
    tied metrics (every customer with the same order count lands in
    one band, and that band grows linearly with the frame, recreating
    the single-partition problem one level down).

    ``sub_col`` must refine the order WITHIN a band: for rows sharing
    a band value, ascending ``sub_col`` must coarsen ``order_cols``
    (e.g. band = metric, sub = custkey >> k for a (metric, custkey)
    order over a tied metric; or band = cents >> 18, sub =
    (cents >> 8) & 1023 for a near-unique cents order).  Keep the sub
    width bounded (~2^10): the per-band sub histogram is prefix-summed
    by a band-partitioned window, so rows per window partition are
    bounded by the sub width — never by the frame.

    rank = band_offset (broadcast inequality join over the band
    histogram, level-1's rule — bands stay few and broadcastable)
    + sub_offset (per-band prefix sum, partitioned window)
    + local rank (window partitioned by (band, sub) — fully parallel).
    No single-partition exchange anywhere at any scale; the sub-offset
    join back is a plain equi-join on (band, sub), shuffle-safe at
    any histogram size.

    Precondition: ``band_col`` and ``sub_col`` must be NON-NULL on
    every row (they are derived from the sort metrics, which a total
    order requires non-null anyway) — the offset joins are equi-joins
    and would silently drop null-band rows.

    ``group_cols`` (r10): optional INDEPENDENT-RANKING groups — every
    group gets its own 1-based rank over the same order, from ONE
    shared pass (one window exchange, one histogram family) instead
    of one pipeline per group.  Group keys must be non-null too (they
    ride the same equi-joins) and are guarded identically."""
    # The big frame shuffles exactly ONCE (the (group, band, sub)
    # window exchange); the histograms derive from the windowed frame,
    # so they inherit its partitioning and aggregate exchange-free —
    # only the dimension-sized histogram frames move after that.
    g = list(group_cols or [])
    og_clash = sorted(
        set(df.columns) & {f"_og{i}" for i in range(len(g))}
    )
    if og_clash:
        raise ValueError(
            f"rankdist: input columns {og_clash} collide with internal "
            f"group temp names; rename them before calling"
        )
    _collision_check(df)
    local = df.withColumn(
        "_local_pos",
        F.row_number().over(
            Window.partitionBy(*g, band_col, sub_col).orderBy(*order_cols)
        ),
    )
    sh = local.groupBy(*g, band_col, sub_col).agg(
        F.count(F.lit(1)).alias("_sc")
    )
    w_sub = (
        Window.partitionBy(*g, band_col)
        .orderBy(F.asc(sub_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the gate rides _soff: every (group, band, sub) histogram row —
    # including null-key ones, which the null-safe join-backs keep
    # visible — evaluates it during the broadcast build, at histogram
    # cost, leaving the big frame's shuffle columns untouched
    sub_off = sh.select(
        *g,
        band_col,
        sub_col,
        F.col("_sc"),
        _nonnull_gate(
            g + [band_col, sub_col],
            F.coalesce(F.sum("_sc").over(w_sub), F.lit(0)),
        ).alias("_soff"),
    )
    hist = sub_off.groupBy(*g, band_col).agg(F.sum("_sc").alias("_bcnt"))
    other = hist.select(
        *[F.col(c).alias(f"_og{i}") for i, c in enumerate(g)],
        F.col(band_col).alias("_ob"),
        F.col("_bcnt").alias("_oc"),
    )
    before = (
        F.col("_ob") > F.col(band_col)
        if descending_bands
        else F.col("_ob") < F.col(band_col)
    )
    for i, c in enumerate(g):
        before = before & (F.col(f"_og{i}") == F.col(c))
    offsets = (
        hist.join(F.broadcast(other), before, "left")
        .groupBy(*g, band_col)
        .agg(F.coalesce(F.sum("_oc"), F.lit(0)).alias("_boff"))
    )
    joined = _nsjoin(local, sub_off.drop("_sc"), g + [band_col, sub_col])
    return (
        _nsjoin(joined, offsets, g + [band_col])
        .withColumn(
            rank_name, F.col("_boff") + F.col("_soff") + F.col("_local_pos")
        )
        .drop("_local_pos", "_soff", "_boff")
    )


def global_prefix_agg_decomposed2(
    df: DataFrame,
    band_col: str,
    sub_col: str,
    order_cols: list,
    value_col: str,
    agg: str = "sum",
    out_name: str = "prefix",
    inclusive: bool = True,
    descending_bands: bool = False,
) -> DataFrame:
    """Decomposed global RUNNING AGGREGATE (``sum`` or ``max``) of
    ``value_col`` over the total order — the value twin of
    :func:`global_rank_decomposed2` (a rank is just the prefix sum of
    1s).  Same band/sub contract and non-null precondition; same
    physical shape: the big frame shuffles once, histograms derive
    from the windowed frame, band offsets ride a broadcast inequality
    join, sub offsets a band-partitioned prefix window.

    prefix = band_offset ⊕ sub_offset ⊕ local running agg, where ⊕ is
    ``+`` (null → 0) for sum and null-skipping ``greatest`` for max.
    With ``inclusive=False`` the local frame excludes the current row
    — the first row of the global order then yields NULL for max (no
    prefix exists; callers use that as the "no predecessor" marker)
    and 0 for sum."""
    if agg not in ("sum", "max"):
        raise ValueError(f"agg must be 'sum' or 'max', got {agg!r}")
    _collision_check(df)
    aggf = F.sum if agg == "sum" else F.max
    hi = Window.currentRow if inclusive else -1
    local = df.withColumn(
        "_lv",
        aggf(value_col).over(
            Window.partitionBy(band_col, sub_col)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, hi)
        ),
    )
    sh = local.groupBy(band_col, sub_col).agg(aggf(value_col).alias("_sv"))
    w_sub = (
        Window.partitionBy(band_col)
        .orderBy(F.asc(sub_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # gate on _soff: see global_rank_decomposed2 — histogram-grain
    # null check, evaluated in the broadcast build of the join-back
    sub_off = sh.select(
        band_col,
        sub_col,
        F.col("_sv"),
        _nonnull_gate(
            [band_col, sub_col], aggf("_sv").over(w_sub)
        ).alias("_soff"),
    )
    hist = sub_off.groupBy(band_col).agg(aggf("_sv").alias("_bv"))
    other = hist.select(F.col(band_col).alias("_ob"), F.col("_bv").alias("_ov"))
    before = (
        F.col("_ob") > F.col(band_col)
        if descending_bands
        else F.col("_ob") < F.col(band_col)
    )
    offsets = (
        hist.join(F.broadcast(other), before, "left")
        .groupBy(band_col)
        .agg(aggf("_ov").alias("_boff"))
    )
    if agg == "sum":
        combined = (
            F.coalesce(F.col("_boff"), F.lit(0))
            + F.coalesce(F.col("_soff"), F.lit(0))
            + F.coalesce(F.col("_lv"), F.lit(0))
        )
    else:
        # greatest skips nulls; null only when EVERY level is null
        # (the exclusive first row of the whole order)
        combined = F.greatest(F.col("_boff"), F.col("_soff"), F.col("_lv"))
    joined = _nsjoin(
        local, sub_off.select(band_col, sub_col, "_soff"), [band_col, sub_col]
    )
    return (
        _nsjoin(joined, offsets, [band_col])
        .withColumn(out_name, combined)
        .drop("_lv", "_soff", "_boff")
    )


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer division for nonnegative operands as pure Column
    math: subtracting the remainder first makes the float division an
    exact multiple — exact in double up to 2^53, far past any
    realistic global rank."""
    return ((a - a % b) / b).cast("bigint")


def ntile_closed_form(rank: Column, total: Column, n_tiles: int) -> Column:
    """NTILE(n_tiles) from a 1-based global rank and the frame total,
    in pure integer column math (guarded for total < n_tiles, where
    every rank falls in the when-branch and the otherwise-branch's
    greatest() keeps the denominator nonzero)."""
    q = _idiv(total, F.lit(n_tiles))
    rem = (total % n_tiles).cast("bigint")
    first_mass = rem * (q + 1)
    qg = F.greatest(q, F.lit(1))
    return F.when(rank <= first_mass, _idiv(rank + q, q + 1)).otherwise(
        rem + _idiv(rank - first_mass + qg - 1, qg)
    )
